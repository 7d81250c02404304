import dataclasses
import hashlib

import numpy as np
import pytest

from cardinality_estimation_evaluation_framework_spark.datagen import set_generators as sg
from cardinality_estimation_evaluation_framework_spark.simulation import analyzer
from cardinality_estimation_evaluation_framework_spark.simulation.configs import (
    ScenarioConfig,
    smoke_test,
)
from cardinality_estimation_evaluation_framework_spark.simulation.estimators import (
    ESTIMATOR_CONFIGS,
    UnionEstimator,
    exact_set_less_one,
    exact_set_lossless,
    exp_adbf_first_moment,
    get_estimator_configs,
)
from cardinality_estimation_evaluation_framework_spark.simulation.evaluator import (
    Evaluator,
    read_results,
)
from cardinality_estimation_evaluation_framework_spark.simulation.simulator import (
    Simulator,
    shuffle_distance,
)


# ---------------- generators ----------------

def test_choice_fast_properties():
    rs = np.random.RandomState(0)
    s = sg.choice_fast(1000, 100, rs)
    assert len(s) == 100 and len(np.unique(s)) == 100
    assert s.min() >= 0 and s.max() < 1000
    pool = np.arange(500, 600)
    s2 = sg.choice_fast(pool, 10, rs)
    assert np.isin(s2, pool).all()


def _choice_fast_golden_cases():
    for seed in (0, 1, 7):
        for n, m in ((1000, 0), (1000, 1000), (1000, 200), (40_000, 8_000), (1, 1),
                     (7, 7), (10**6, 500)):
            yield n, m, seed
        yield np.arange(500, 1500), 1000, seed
        yield np.random.RandomState(seed + 100).randint(0, 10**9, 3000), 600, seed


def test_choice_fast_golden_digest():
    # recorded from the pre-vectorization implementation (a per-element
    # set.add loop); the multiset and subset generators consume the output
    # ORDER, so the exact arrays, not only the sets, must not change
    h = hashlib.sha256()
    for n, m, seed in _choice_fast_golden_cases():
        out = np.asarray(sg.choice_fast(n, m, np.random.RandomState(seed)), dtype=np.int64)
        assert len(out) == m and len(np.unique(out)) == m
        h.update(len(out).to_bytes(8, "little") + out.tobytes())
    assert h.hexdigest() == "f93821fb9acd8b66bcd902d01d386a1c6b866c6adfd60080f4c0c41d4195f13b"


def _choice_fast_loop(n, m, rs):
    """Reference: Floyd's algorithm as a per-element set.add loop."""
    pool = None if isinstance(n, int) else np.asarray(n)
    size = n if pool is None else len(pool)
    draws = (rs.random_sample(m) * np.arange(size - m + 1, size + 1)).astype(np.int64)
    chosen = set()
    for j in range(m):
        t = int(draws[j])
        chosen.add(size - m + j if t in chosen else t)
    idx = np.fromiter(chosen, np.int64, m)
    return idx if pool is None else pool[idx]


def test_choice_fast_matches_loop_reference():
    rs = np.random.RandomState(11)
    for _ in range(300):
        n = int(rs.randint(1, 400))
        m = int(rs.randint(0, n + 1))
        seed = int(rs.randint(2**31 - 1))
        src = n if rs.rand() < 0.5 else rs.randint(0, 10**9, n)
        want = _choice_fast_loop(src, m, np.random.RandomState(seed))
        got = sg.choice_fast(src, m, np.random.RandomState(seed))
        assert got.dtype == want.dtype and np.array_equal(got, want), (n, m, seed)


def test_generators_shapes_and_semantics():
    rs = np.random.RandomState(1)
    sets = list(sg.IndependentSetGenerator(10_000, [100, 200], rs))
    assert [len(s) for s in sets] == [100, 200]

    sets = list(sg.FullyOverlapSetGenerator(10_000, 3, 50, rs))
    assert all((sets[0] == s).all() for s in sets)

    sets = list(sg.SubSetGenerator("original", 10_000, 2, 2, 100, 10, rs))
    assert len(sets[0]) == 100 and len(sets[2]) == 10
    assert np.isin(sets[2], sets[0]).all()  # small ⊂ large

    sets = list(sg.DisjointSetGenerator([10, 20]))
    assert len(np.intersect1d(sets[0], sets[1])) == 0

    sets = list(
        sg.SequentiallyCorrelatedSetGenerator("original", "all", 0.5, [100, 100, 100], rs)
    )
    union01 = np.union1d(sets[0], sets[1])
    overlap = len(np.intersect1d(sets[2], union01))
    assert overlap == 50  # shared_prop * set_size exactly, by construction

    sets = list(
        sg.SequentiallyCorrelatedSetGenerator("original", "one", 0.5, [100, 100], rs)
    )
    assert len(np.intersect1d(sets[1], sets[0])) == 50


def test_frequency_generators():
    rs = np.random.RandomState(2)
    sets = list(sg.PublisherConstantFrequencySetGenerator(10_000, [100], 3, rs))
    ids, counts = np.unique(sets[0], return_counts=True)
    assert len(ids) == 100 and (counts == 3).all()

    sets = list(sg.HomogeneousMultiSetGenerator(10_000, [500], [2.0], rs, freq_cap=5))
    ids, counts = np.unique(sets[0], return_counts=True)
    assert len(ids) == 500 and counts.max() <= 5 and counts.min() >= 1

    sets = list(sg.HeterogeneousMultiSetGenerator(10_000, [500], [(1.0, 1.0)], rs, freq_cap=7))
    ids, counts = np.unique(sets[0], return_counts=True)
    assert len(ids) == 500 and counts.max() <= 7

    sets = list(sg.ExponentialBowSetGenerator("identical", 10_000, [500], rs))
    assert len(np.unique(sets[0])) == len(sets[0])


# ---------------- simulator ----------------

def test_shuffle_distance():
    assert shuffle_distance([10], [10]) == 0.0
    # [10,5] vs [10,10]: dists (.5,.5) vs (0,1) → 0.5*(0.5+0.5)=0.5
    assert abs(shuffle_distance([10, 5], [10, 10]) - 0.5) < 1e-12


def test_simulator_lossless_is_exact():
    cfg = exact_set_lossless()
    sim = Simulator(
        num_runs=3,
        set_generator_factory=sg.IndependentSetGenerator.factory_with_num_and_size(
            10_000, 4, 1_000
        ),
        sketch_estimator_config=cfg,
        sketch_random_state=np.random.RandomState(1),
        set_random_state=np.random.RandomState(2),
    )
    df, df_agg = sim()
    assert (df["relative_error_1"] == 0).all()
    assert set(df["num_sets"]) == {1, 2, 3, 4}
    assert len(df) == 12


def test_simulator_detects_broken_estimator():
    # the reference keeps LessOneEstimator to prove the harness catches errors
    cfg = exact_set_less_one()
    sim = Simulator(
        num_runs=1,
        set_generator_factory=sg.IndependentSetGenerator.factory_with_num_and_size(
            1_000, 2, 100
        ),
        sketch_estimator_config=cfg,
        sketch_random_state=np.random.RandomState(1),
        set_random_state=np.random.RandomState(2),
    )
    df, _ = sim()
    assert (df["relative_error_1"] < 0).all()


def test_simulator_seed_reproducibility():
    cfg = exp_adbf_first_moment(m=10_000)
    def run():
        return Simulator(
            num_runs=2,
            set_generator_factory=sg.IndependentSetGenerator.factory_with_num_and_size(
                20_000, 3, 2_000
            ),
            sketch_estimator_config=cfg,
            sketch_random_state=np.random.RandomState(7),
            set_random_state=np.random.RandomState(8),
        )()[0]
    a, b = run(), run()
    assert (a["estimated_cardinality_1"] == b["estimated_cardinality_1"]).all()


#: configs whose estimator folds then finalizes, so run_one takes the
#: one-fold prefix path; the rest stay plain per-prefix callables
PREFIX_PATH_CONFIGS = {
    "exact", "less_one", "hll", "fll", "exp_adbf", "exp_adbf_global_dp", "log_adbf",
    "geo_adbf", "uniform_adbf", "liquid_legions", "cascading_legions", "ska",
}


def _prefix_and_sliced_runs(cfg, factory, seed=5):
    """run_one as configured, and with the estimator wrapped in a plain
    lambda, which has no prefixes method: run_one slices states[:i+1]."""
    sliced = dataclasses.replace(cfg, estimator=lambda k, sts, f=cfg.estimator: f(k, sts))
    return [
        Simulator(
            num_runs=1, set_generator_factory=factory, sketch_estimator_config=c,
            sketch_random_state=np.random.RandomState(seed),
            set_random_state=np.random.RandomState(seed + 1),
        ).run_one()
        for c in (cfg, sliced)
    ]


@pytest.mark.parametrize("name", sorted(ESTIMATOR_CONFIGS))
def test_prefix_path_matches_per_prefix_slices(name):
    kw = {"m": 10_000} if "adbf" in name or name in ("ska", "meta_voc") else {}
    cfg = ESTIMATOR_CONFIGS[name](**kw)
    assert hasattr(cfg.estimator, "prefixes") == (name in PREFIX_PATH_CONFIGS)
    factory = sg.IndependentSetGenerator.factory_with_num_and_size(20_000, 5, 2_000)
    a, b = _prefix_and_sliced_runs(cfg, factory)
    assert len(a) == 5 and a.equals(b)


def test_prefix_path_matches_on_multisets():
    factory = lambda rs: sg.HomogeneousMultiSetGenerator(
        20_000, [1_500] * 4, [1.0] * 4, rs, freq_cap=5)
    a, b = _prefix_and_sliced_runs(exact_set_lossless(max_frequency=3), factory)
    assert a.equals(b)
    # lossless is exact at every frequency level, 3+ included
    for level in (1, 2, 3):
        assert (a[f"estimated_cardinality_{level}"] == a[f"true_cardinality_{level}"]).all()
    assert (a["true_cardinality_3"] > 0).all()


def test_prefix_path_bit_identical_on_fractional_registers():
    # crisp 0/1 registers union exactly in any order; fractional ones (as
    # after a denoise) make the floating-point expectation-union depend on
    # the merge order, which the prefix fold must keep
    def fractional(kernel, state, rng):
        return {"registers": state["registers"] * rng.uniform(0.2, 1.0, kernel.m)}

    def register_digest(kernel, union):
        # sees every bit of every register (48 bits fit a float exactly)
        digest = hashlib.sha256(union["registers"].tobytes()).digest()
        return [float(int.from_bytes(digest[:6], "little"))]

    cfg = dataclasses.replace(exp_adbf_first_moment(m=10_000), sketch_noiser=fractional,
                              estimator=UnionEstimator(register_digest))
    factory = sg.IndependentSetGenerator.factory_with_num_and_size(20_000, 6, 3_000)
    a, b = _prefix_and_sliced_runs(cfg, factory)
    assert a.equals(b)


def test_simulator_spark_mode_matches_driver(spark):
    cfg = exp_adbf_first_moment(m=10_000)
    common = dict(
        num_runs=1,
        set_generator_factory=sg.IndependentSetGenerator.factory_with_num_and_size(
            20_000, 3, 2_000
        ),
        sketch_estimator_config=cfg,
    )
    driver_df, _ = Simulator(
        sketch_random_state=np.random.RandomState(3),
        set_random_state=np.random.RandomState(4),
        **common,
    )()
    spark_df, _ = Simulator(
        sketch_random_state=np.random.RandomState(3),
        set_random_state=np.random.RandomState(4),
        spark=spark,
        **common,
    )()
    # identical seeds + associative merges → identical estimates
    assert (
        driver_df["estimated_cardinality_1"] == spark_df["estimated_cardinality_1"]
    ).all()


# ---------------- evaluator + analyzer ----------------

def test_evaluator_and_analyzer(spark, tmp_path):
    eval_config = smoke_test(num_runs=5, universe_size=10_000, num_sets=4, set_size=2_000)
    configs = get_estimator_configs(["exact", "exp_adbf"], exp_adbf={"m": 10_000})
    ev = Evaluator(eval_config, configs, str(tmp_path), workers=2, random_seed=11)
    cells = ev()
    assert len(cells) == 10  # 2 estimators x 5 scenarios
    results = read_results(spark, str(tmp_path), "smoke_test")
    metric = analyzer.num_estimable_sets_df(results)
    rows = {(r["sketch_estimator"], r["scenario"]): r["num_estimable_sets"] for r in metric.collect()}
    # exact estimator is estimable through all 4 sets in every scenario
    for (est, scen), n in rows.items():
        if est.startswith("exact_set"):
            assert n == 4, (est, scen, n)
    stats = analyzer.relative_error_stats_at_estimable(metric, results)
    assert stats.count() == 10


def test_to_long_format_golden(spark):
    """Golden case ported from ref analyzer_test.py:311-346."""
    import pandas as pd

    from cardinality_estimation_evaluation_framework_spark.simulation.analyzer import (
        to_long_format,
    )

    raw = spark.createDataFrame(
        pd.DataFrame(
            {
                "estimator": ["some_sketch"] * 4,
                "scenario": ["some_scenario"] * 4,
                "run_index": [0, 0, 1, 1],
                "num_sets": [1, 2, 1, 2],
                "true_cardinality_1": [10, 20, 10, 20],
                "true_cardinality_2": [5, 10, 5, 10],
                "estimated_cardinality_1": [11, 21, 12, 22],
                "estimated_cardinality_2": [4, 9, 3, 8],
            }
        )
    )
    long_df = to_long_format(raw, max_freq=2).toPandas()
    assert len(long_df) == 16
    assert set(long_df.columns) >= {
        "source", "frequency_level", "cardinality", "num_sets", "run_index"
    }
    # the reference's expected values, keyed by (source, level, run, num_sets)
    key = long_df.set_index(
        ["source", "frequency_level", "run_index", "num_sets"]
    )["cardinality"]
    assert key[("true", 1, 0, 1)] == 10
    assert key[("true", 2, 1, 2)] == 10
    assert key[("estimated", 1, 1, 2)] == 22
    assert key[("estimated", 2, 0, 1)] == 4
    assert (long_df.groupby("source").size() == 8).all()


def test_per_frequency_cardinality_golden(spark):
    """Golden case ported from ref analyzer_test.py:348-379: k+ cumulative
    [6,4] -> per-level [2,4]; [7,3] -> [4,3]."""
    import pandas as pd

    from cardinality_estimation_evaluation_framework_spark.simulation.analyzer import (
        per_frequency_cardinality,
    )

    long_df = spark.createDataFrame(
        pd.DataFrame(
            {
                "estimator": ["some_sketch"] * 4,
                "scenario": ["some_scenario"] * 4,
                "run_index": [0] * 4,
                "num_sets": [1] * 4,
                "cardinality": [6, 4, 7, 3],
                "source": ["true", "true", "estimated", "estimated"],
                "frequency_level": [1, 2, 1, 2],
            }
        )
    )
    out = per_frequency_cardinality(
        long_df, ["estimator", "scenario", "run_index", "num_sets"]
    ).toPandas()
    got = out.set_index(["source", "frequency_level"])["per_frequency_cardinality"]
    assert got[("true", 1)] == 2 and got[("true", 2)] == 4
    assert got[("estimated", 1)] == 4 and got[("estimated", 2)] == 3


def test_basic_comparison_example_runs(capsys):
    """The examples/basic_comparison.py twin of the reference's example
    script runs every estimator family end-to-end."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "examples"))
    import basic_comparison

    rc = basic_comparison.main([
        "--number_of_trials", "1", "--universe_size", "5000",
        "--set_size", "200", "--sketch_size", "1024", "--number_of_sets", "3",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    for name in ("hyper_log_log", "freq_log_log", "vector_of_counts",
                 "exact-stratified", "cascading_legions"):
        assert name in out


def test_barplot_frequency_distributions(tmp_path):
    import pandas as pd

    pytest.importorskip("matplotlib")
    from cardinality_estimation_evaluation_framework_spark.simulation.report import (
        barplot_frequency_distributions,
    )

    long_df = pd.DataFrame({
        "frequency_level": [1, 2, 1, 2],
        "cardinality": [10, 5, 11, 4],
        "source": ["true", "true", "estimated", "estimated"],
    })
    out = barplot_frequency_distributions(long_df, str(tmp_path / "bar.png"))
    assert out and (tmp_path / "bar.png").exists()
