"""Randomized reference-parity fuzz for the SKETCH surface (VERDICT r5 #1).

tools/fuzz_oracles.py sweeps the 25 DuckDB-twin operator families with
random configs; the §2 sketch kernels were until now pinned only at the
fixed configs in tests/test_reference_parity.py and
tests/test_estimator_formula_parity.py. This harness closes that gap: each
trial draws a random SketchConfig (m / p / decay / num_hashes / seeds /
sparse thresholds / noise levels) AND a random id stream, builds the sketch
through BOTH implementations — ours (kernel, partitioned build + merge) and
the reference classes loaded in-process (tests/reference_loader.py, shared
FarmHash path) — and asserts:

- register-EXACT state parity (every plane, bit for bit), and
- estimate parity: EXACT where the pinned tests assert exact (HLL, VoC,
  FLL sparse), to the pinned tolerances where a monotone inversion or
  noised formula is in the loop (1e-6 rel, matching
  test_estimator_formula_parity.py's documented tolerances).

Families (13): hll, adbf, bloom_classic, counting_bloom, fll, voc,
liquid_legions, cascading_legions, ska, first_moment, ll_estimators,
cl_golden, adbf_setops.

Usage:
    python tools/fuzz_parity.py [n_trials] [master_seed]

Prints one line per trial; writes PARITY_FUZZ.json; exit 1 on any failure.
Pure numpy + in-process reference — no Spark session, so the default 65
trials run in a couple of minutes.
"""

from __future__ import annotations

import json
import math
import os
import random
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from reference_loader import ref_module

from cardinality_estimation_evaluation_framework_spark.operators.set_ops import (
    BayesianAdbfOperator,
    ExpectationAdbfOperator,
)
from cardinality_estimation_evaluation_framework_spark.sketches import (
    any_sketch as a_s,
)
from cardinality_estimation_evaluation_framework_spark.sketches.bloom import (
    BloomKernel,
    first_moment_estimate,
    union_states,
)
from cardinality_estimation_evaluation_framework_spark.sketches.cascading_legions import (
    CascadingLegionsKernel,
    estimate_from_golden_legion,
)
from cardinality_estimation_evaluation_framework_spark.sketches.fll import FllKernel
from cardinality_estimation_evaluation_framework_spark.sketches.hll import HllKernel
from cardinality_estimation_evaluation_framework_spark.sketches.liquid_legions import (
    LiquidLegionsKernel,
    VennEstimator,
    estimate_from_all,
)
from cardinality_estimation_evaluation_framework_spark.sketches.same_key_aggregator import (
    SameKeyAggregatorKernel,
    standardized_histogram_estimate,
)
from cardinality_estimation_evaluation_framework_spark.sketches.vector_of_counts import (
    VocKernel,
)


def _rand_ids(rng: random.Random, allow_empty: bool = True,
              max_n: int = 5000) -> np.ndarray:
    """Random UNIQUE id set: size and universe both randomized so small
    universes force hash collisions and big ones exercise full 64-bit
    spread. Occasionally empty (the registers-all-zero edge)."""
    if allow_empty and rng.random() < 0.04:
        return np.array([], dtype=np.int64)
    n = rng.randint(1, max_n)
    hi = rng.choice([10**3, 10**5, 10**9, 2**62])
    return np.unique(
        np.random.RandomState(rng.randrange(2**31)).randint(1, hi, size=n)
    ).astype(np.int64)


def _rand_multiset(rng: random.Random, max_n: int = 6000) -> np.ndarray:
    n = rng.randint(1, max_n)
    hi = rng.choice([200, 2000, 50_000])
    return np.random.RandomState(rng.randrange(2**31)).randint(
        1, hi, size=n).astype(np.int64)


def _partitioned_state(kernel, ids: np.ndarray, rng: random.Random):
    """Build through a random split + merge fold — every trial exercises
    the distributed path, not just sequential update."""
    nparts = rng.randint(1, 8)
    st = kernel.empty()
    if len(ids) == 0:
        return kernel.update(st, ids)
    for part in np.array_split(ids, nparts):
        st = kernel.merge(st, kernel.update(kernel.empty(), part))
    return st


# ---------------------------------------------------------------------------
# families — each returns a params dict (raises AssertionError on mismatch)
# ---------------------------------------------------------------------------

def fam_hll(rng: random.Random) -> dict:
    p = rng.randint(4, 14)
    seed = rng.randrange(10**6)
    ids = _rand_ids(rng, max_n=8000)
    ref_hll = ref_module("estimators.hyper_log_log")
    ref = ref_hll.HyperLogLogPlusPlus(random_seed=seed, length=1 << p)
    for x in ids:
        ref.add(int(x))
    ours = HllKernel(p=p, seed=seed, hash_kind="farmhash", sparse_mode=True)
    st = _partitioned_state(ours, ids, rng)
    assert np.array_equal(ref.buckets, st["registers"].astype(np.int32)), \
        "HLL registers diverge"
    mine, theirs = ours.estimate(st)[0], float(ref.estimate_cardinality())
    assert mine == theirs, f"HLL estimate {mine} != {theirs} (sparse={ref.sparse_mode})"
    return {"p": p, "seed": seed, "n": len(ids), "sparse": bool(ref.sparse_mode)}


def fam_adbf(rng: random.Random) -> dict:
    ref_bf = ref_module("estimators.bloom_filters")
    m = 1 << rng.randint(6, 13)
    seed = rng.randrange(10**6)
    dist = rng.choice(["log", "geometric", "uniform", "exponential"])
    ids = _rand_ids(rng)
    if dist == "log":
        ref = ref_bf.LogarithmicBloomFilter(length=m, random_seed=seed)
        ours = BloomKernel(dist_kind="log", m=m, seed=seed, hash_kind="farmhash")
        params = {}
    elif dist == "geometric":
        c = round(rng.uniform(0.5, 4.0), 3)
        ref = ref_bf.GeometricBloomFilter(length=m, probability=c / m,
                                          random_seed=seed)
        ours = BloomKernel(dist_kind="geometric", m=m, seed=seed,
                           probability=c / m, hash_kind="farmhash")
        params = {"probability": c / m}
    elif dist == "uniform":
        ref = ref_bf.UniformBloomFilter(length=m, random_seed=seed)
        ours = BloomKernel(dist_kind="uniform", m=m, seed=seed,
                           hash_kind="farmhash")
        params = {}
    else:
        decay = round(rng.uniform(1.0, 30.0), 2)
        ref = ref_bf.ExponentialBloomFilter(length=m, decay_rate=decay,
                                            random_seed=seed)
        ours = BloomKernel(dist_kind="exponential", m=m, seed=seed,
                           decay_rate=decay, hash_kind="farmhash")
        params = {"decay_rate": decay}
    ref.add_ids([int(x) for x in ids])
    st = _partitioned_state(ours, ids, rng)
    assert np.array_equal((ref.sketch > 0).astype(np.float64),
                          st["registers"]), f"ADBF {dist} registers diverge"
    return {"dist": dist, "m": m, "seed": seed, "n": len(ids), **params}


def fam_bloom_classic(rng: random.Random) -> dict:
    ref_bf = ref_module("estimators.bloom_filters")
    m = 1 << rng.randint(8, 13)
    k = rng.randint(1, 6)
    seed = rng.randrange(10**6)
    ids = _rand_ids(rng)
    ref = ref_bf.BloomFilter(length=m, num_hashes=k, random_seed=seed)
    ref.add_ids([int(x) for x in ids])
    ours = BloomKernel(dist_kind="uniform", m=m, num_hashes=k, seed=seed,
                       hash_kind="farmhash")
    st = _partitioned_state(ours, ids, rng)
    assert np.array_equal((ref.sketch > 0).astype(np.float64),
                          st["registers"]), "classic bloom registers diverge"
    return {"m": m, "num_hashes": k, "seed": seed, "n": len(ids)}


def fam_counting_bloom(rng: random.Random) -> dict:
    ref_bf = ref_module("estimators.bloom_filters")
    m = 1 << rng.randint(8, 12)
    seed = rng.randrange(10**6)
    multiset = _rand_multiset(rng)
    ref = ref_bf.UniformCountingBloomFilter(length=m, random_seed=seed)
    ref.add_ids([int(x) for x in multiset])
    ours = BloomKernel(dist_kind="uniform", m=m, seed=seed, value_fn="sum",
                       hash_kind="farmhash")
    st = _partitioned_state(ours, multiset, rng)
    assert np.array_equal(ref.sketch.astype(np.float64), st["registers"]), \
        "counting bloom registers diverge"
    return {"m": m, "seed": seed, "n": len(multiset)}


def fam_fll(rng: random.Random) -> dict:
    ref_fll = ref_module("estimators.freq_log_log")
    p = rng.randint(4, 12)
    seed = rng.randrange(10**6)
    stream = _rand_multiset(rng)
    ref = ref_fll.FreqLogLogPlusPlus(random_seed=seed, length=1 << p)
    for x in stream:
        ref.add(int(x))
    ours = FllKernel(p=p, seed=seed, hash_kind="farmhash", sparse_mode=True)
    st = _partitioned_state(ours, stream, rng)
    assert np.array_equal(ref.buckets[:, 0], st["rho"].astype(np.int32)), \
        "FLL rho registers diverge"
    if ref.sparse_mode:
        mine = ours.estimate(st)[:15]
        theirs = [float(round(x)) for x in ref.estimate_cardinality_float()[:15]]
        assert mine == theirs, f"FLL sparse estimates {mine} != {theirs}"
    else:
        mine1, theirs1 = ours.estimate(st)[0], ref.estimate_cardinality_float()[0]
        assert math.isclose(mine1, theirs1, rel_tol=1e-9), \
            f"FLL 1+ estimate {mine1} != {theirs1}"
    return {"p": p, "seed": seed, "n": len(stream), "sparse": bool(ref.sparse_mode)}


def fam_voc(rng: random.Random) -> dict:
    voc_mod = ref_module("estimators.vector_of_counts")
    buckets = 1 << rng.randint(3, 12)
    seed = rng.randrange(10**6)
    ids = _rand_ids(rng)
    ref = voc_mod.VectorOfCounts(num_buckets=buckets, random_seed=seed)
    ref.add_ids([int(x) for x in ids])
    ours = VocKernel(num_buckets=buckets, seed=seed, hash_kind="farmhash")
    # once-only contract: partitions must be disjoint (true for unique ids)
    st = _partitioned_state(ours, ids, rng)
    assert np.array_equal(ref.stats.astype(np.float64), st["stats"]), \
        "VoC stats diverge"
    assert ours.estimate(st)[0] == float(ref.cardinality()), "VoC estimate diverges"
    return {"buckets": buckets, "seed": seed, "n": len(ids)}


def fam_liquid_legions(rng: random.Random) -> dict:
    llm = ref_module("estimators.liquid_legions")
    a = round(rng.uniform(2.0, 18.0), 2)
    m = 1 << rng.randint(8, 12)
    seed = rng.randrange(10**6)
    ids = _rand_ids(rng)
    ref = llm.LiquidLegions(a=a, m=m, random_seed=seed)
    ref.add_ids([int(x) for x in ids])
    ours = LiquidLegionsKernel(a=a, m=m, seed=seed, hash_kind="farmhash32")
    st = _partitioned_state(ours, ids, rng)
    ref_counts = np.zeros(m, dtype=np.int64)
    for b, c in ref.sketch.items():
        ref_counts[b] = c
    assert np.array_equal(ref_counts, st["counts"]), "LL counts diverge"
    for b in range(m):
        mine = int(st["unique"][b])
        theirs = ref.unique.get(b)
        if mine == a_s.UNIQUE_EMPTY:
            assert theirs is None, f"LL unique[{b}]"
        elif mine == a_s.UNIQUE_COLLIDED:
            assert theirs == -1, f"LL unique[{b}]"
        else:
            assert theirs == mine - 1, f"LL unique[{b}]"
    return {"a": a, "m": m, "seed": seed, "n": len(ids)}


def fam_cascading_legions(rng: random.Random) -> dict:
    clm = ref_module("estimators.cascading_legions")
    l = rng.randint(3, 12)
    m = 1 << rng.randint(6, 10)
    seed = rng.randrange(10**6)
    ids = _rand_ids(rng)
    ref = clm.CascadingLegions(l, m, random_seed=seed)
    ref.add_ids([int(x) for x in ids])
    ours = CascadingLegionsKernel(l=l, m=m, seed=seed, hash_kind="farmhash32")
    st = _partitioned_state(ours, ids, rng)
    ref_counts = np.zeros(l * m, dtype=np.int64)
    for b, c in ref.sketch.items():
        ref_counts[b] = c
    assert np.array_equal(ref_counts, st["counts"]), "CL counts diverge"
    return {"l": l, "m": m, "seed": seed, "n": len(ids)}


def fam_ska(rng: random.Random) -> dict:
    skam = ref_module("estimators.same_key_aggregator")
    m = 1 << rng.randint(8, 12)
    decay = round(rng.uniform(3.0, 25.0), 2)
    seed = rng.randrange(10**6)
    stream = _rand_multiset(rng)
    ref = skam.ExponentialSameKeyAggregator(length=m, decay_rate=decay,
                                            random_seed=seed)
    for x in stream:
        ref.add(int(x))
    ours = SameKeyAggregatorKernel(m=m, decay_rate=decay, seed=seed,
                                   hash_kind="farmhash")
    st = _partitioned_state(ours, stream, rng)
    assert np.array_equal((ref.exponential_bloom_filter.sketch > 0
                           ).astype(np.float64), st["bits"]), "SKA bits diverge"
    assert np.array_equal(ref.frequency_count_tracker.sketch.astype(np.int64),
                          st["freq"]), "SKA freq diverges"
    assert np.array_equal(ref.unique_key_tracker.sketch.astype(np.int64),
                          st["keys"]), "SKA keys diverge"
    max_freq = rng.randint(2, 12)
    theirs = np.asarray(
        skam.StandardizedHistogramEstimator(max_freq=max_freq)([ref]),
        dtype=float)
    mine = standardized_histogram_estimate(ours, st, max_freq=max_freq)
    np.testing.assert_allclose(mine, theirs, rtol=1e-9, atol=1e-9,
                               err_msg="SKA histogram estimate diverges")
    return {"m": m, "decay": decay, "seed": seed, "n": len(stream),
            "max_freq": max_freq}


def fam_first_moment(rng: random.Random) -> dict:
    """FirstMomentEstimator across methods, on 1-3 unioned random sketches.

    Tolerance: rel 1e-12 for every method — invert_monotonic reproduces
    the reference's exact probe/bracket sequence (its probe-from-1 quirk
    included), so even the bisection-backed any/geo/exp paths agree to
    float identity. (The first 130-trial sweep of this harness caught a
    tighter-bracket variant drifting 2e-6 on METHOD_ANY; the fix was to
    transcribe the reference's sequence exactly — see
    functions/special.py:invert_monotonic.)
    """
    ref_bf = ref_module("estimators.bloom_filters")
    m = 1 << rng.randint(8, 13)
    seed = rng.randrange(10**6)
    dist, method = rng.choice([
        ("uniform", "uniform"), ("log", "log"), ("exponential", "exp"),
        ("geometric", "geo"), ("uniform", "any"), ("exponential", "any"),
    ])
    kwargs, ref_mk = {}, None
    if dist == "uniform":
        ref_mk = lambda: ref_bf.UniformBloomFilter(length=m, random_seed=seed)
    elif dist == "log":
        ref_mk = lambda: ref_bf.LogarithmicBloomFilter(length=m, random_seed=seed)
    elif dist == "exponential":
        kwargs = {"decay_rate": round(rng.uniform(2.0, 20.0), 2)}
        ref_mk = lambda: ref_bf.ExponentialBloomFilter(
            length=m, decay_rate=kwargs["decay_rate"], random_seed=seed)
    else:
        kwargs = {"probability": round(rng.uniform(0.5, 3.0), 3) / m}
        ref_mk = lambda: ref_bf.GeometricBloomFilter(
            length=m, probability=kwargs["probability"], random_seed=seed)
    ours = BloomKernel(dist_kind=dist, m=m, seed=seed, hash_kind="farmhash",
                       **kwargs)
    n_sketches = rng.randint(1, 3)
    refs, states = [], []
    for _ in range(n_sketches):
        ids = _rand_ids(rng, allow_empty=False, max_n=max(2, int(m * 0.4)))
        r = ref_mk()
        r.add_ids([int(x) for x in ids])
        refs.append(r)
        states.append(_partitioned_state(ours, ids, rng))
    theirs = ref_bf.FirstMomentEstimator(method=method)(refs)[0]
    mine = first_moment_estimate(ours, union_states(ours, states), method)
    tol = 1e-12
    if math.isnan(theirs):
        assert math.isnan(mine), f"first_moment {method}: {mine} vs nan"
    else:
        assert math.isclose(mine, theirs, rel_tol=tol, abs_tol=tol), \
            f"first_moment {method}: {mine} != {theirs}"
    return {"dist": dist, "method": method, "m": m, "seed": seed,
            "n_sketches": n_sketches, **kwargs}


def _ll_noised_pair(llm, rng: random.Random, a, m, seed, noise_p):
    ids = _rand_ids(rng, allow_empty=False, max_n=int(m * 2))
    ref = llm.LiquidLegions(a=a, m=m, random_seed=seed)
    ref.add_ids([int(x) for x in ids])
    kernel = LiquidLegionsKernel(a=a, m=m, seed=seed, hash_kind="farmhash32")
    st = kernel.update(kernel.empty(), ids)
    if noise_p:
        flip = np.random.RandomState(rng.randrange(2**31)).uniform(0, 1, m) < noise_p
        for i in np.flatnonzero(flip):
            ref.sketch[int(i)] = 0 if ref.sketch.get(int(i), 0) > 0 else 1
        ref.added_noise = noise_p
        occ = st["counts"] > 0
        st["counts"][flip] = np.where(occ[flip], 0, 1)
        st["noise"] = np.array([noise_p])
    return ref, kernel, st


def fam_ll_estimators(rng: random.Random) -> dict:
    llm = ref_module("estimators.liquid_legions")
    a = round(rng.uniform(3.0, 15.0), 2)
    m = 1 << rng.randint(9, 11)
    seed = rng.randrange(10**6)
    noise_p = round(rng.uniform(0.0, 0.12), 3)
    ref1, kernel, st1 = _ll_noised_pair(llm, rng, a, m, seed, noise_p)
    ref2, _, st2 = _ll_noised_pair(llm, rng, a, m, seed, noise_p)
    theirs = llm.Estimator().__call__([ref1, ref2])[0]
    mine = estimate_from_all(kernel, [st1, st2], noise_p)
    assert math.isclose(mine, theirs, rel_tol=1e-6), \
        f"LL estimate_from_all {mine} != {theirs}"
    theirs_2 = np.asarray(llm.VennEstimator([ref1, ref2])())
    mine_2 = VennEstimator(kernel, [st1, st2])()
    np.testing.assert_allclose(mine_2, theirs_2, rtol=1e-6, atol=1e-6,
                               err_msg="LL venn k=2 diverges")
    theirs_1 = np.asarray(llm.VennEstimator([ref1])())
    mine_1 = VennEstimator(kernel, [st1])()
    np.testing.assert_allclose(mine_1, theirs_1, rtol=1e-6, atol=1e-6,
                               err_msg="LL venn k=1 diverges")
    return {"a": a, "m": m, "seed": seed, "noise_p": noise_p}


def fam_cl_golden(rng: random.Random) -> dict:
    clm = ref_module("estimators.cascading_legions")
    l = rng.randint(6, 12)
    m = 1 << rng.randint(7, 9)
    seed = rng.randrange(10**6)
    p = round(rng.uniform(0.01, 0.12), 3)
    kernel = CascadingLegionsKernel(l=l, m=m, seed=seed, hash_kind="farmhash32")
    refs, states = [], []
    for _ in range(2):
        ids = _rand_ids(rng, allow_empty=False, max_n=4000)
        ref = clm.CascadingLegions(l, m, random_seed=seed)
        ref.add_ids([int(x) for x in ids])
        st = kernel.update(kernel.empty(), ids)
        flip = np.random.RandomState(rng.randrange(2**31)).uniform(
            0, 1, l * m) < p
        for i in np.flatnonzero(flip):
            ref.sketch[int(i)] = 0 if ref.sketch.get(int(i), 0) > 0 else 1
        ref.added_noise = p
        occ = st["counts"] > 0
        st["counts"][flip] = np.where(occ[flip], 0, 1)
        st["noise"] = np.array([p])
        refs.append(ref)
        states.append(st)
    theirs_val, theirs_idx = clm.Estimator.estimate_from_golden_legion(refs, p)
    mine_val, mine_idx = estimate_from_golden_legion(kernel, states, p)
    assert mine_idx == theirs_idx, f"CL golden idx {mine_idx} != {theirs_idx}"
    assert math.isclose(mine_val, theirs_val, rel_tol=1e-9), \
        f"CL golden {mine_val} != {theirs_val}"
    return {"l": l, "m": m, "seed": seed, "noise_p": p}


def fam_adbf_setops(rng: random.Random) -> dict:
    ref_bf = ref_module("estimators.bloom_filters")
    ops_mod = ref_module("estimators.bloom_filter_sketch_operators")
    m = 1 << rng.randint(9, 12)
    seed = rng.randrange(10**6)
    dist, method = rng.choice([("exponential", "exp"), ("log", "log")])
    if dist == "exponential":
        decay = round(rng.uniform(3.0, 20.0), 2)
        mk_ref = lambda: ref_bf.ExponentialBloomFilter(
            length=m, decay_rate=decay, random_seed=seed)
        kernel = BloomKernel(dist_kind="exponential", m=m, seed=seed,
                             decay_rate=decay, hash_kind="farmhash")
        params = {"decay_rate": decay}
    else:
        mk_ref = lambda: ref_bf.LogarithmicBloomFilter(length=m, random_seed=seed)
        kernel = BloomKernel(dist_kind="log", m=m, seed=seed,
                             hash_kind="farmhash")
        params = {}
    ids1 = _rand_ids(rng, allow_empty=False, max_n=int(m * 0.8))
    ids2 = _rand_ids(rng, allow_empty=False, max_n=int(m * 0.8))
    if rng.random() < 0.7 and len(ids1) > 1:  # usually overlapping
        ids2 = np.unique(np.concatenate([ids2, ids1[: len(ids1) // 2]]))
    ref1, ref2 = mk_ref(), mk_ref()
    ref1.add_ids([int(x) for x in ids1])
    ref2.add_ids([int(x) for x in ids2])
    st1 = kernel.update(kernel.empty(), ids1)
    st2 = kernel.update(kernel.empty(), ids2)
    their_b = ops_mod.BayesianApproximationSketchOperator(
        estimation_method=method)
    my_b = BayesianAdbfOperator(kernel, method=method)
    their_e = ops_mod.ExpectationApproximationSketchOperator(
        estimation_method=method)
    my_e = ExpectationAdbfOperator(kernel, method=method)
    for theirs_op, mine_op, nm in ((their_b, my_b, "bayes"),
                                   (their_e, my_e, "expect")):
        np.testing.assert_allclose(
            mine_op.intersection(st1, st2)["registers"],
            theirs_op.intersection(ref1, ref2).sketch,
            rtol=1e-6, atol=1e-9, err_msg=f"{nm} intersection diverges")
        np.testing.assert_allclose(
            mine_op.difference(st1, st2)["registers"],
            theirs_op.difference(ref1, ref2).sketch,
            rtol=1e-6, atol=1e-9, err_msg=f"{nm} difference diverges")
    np.testing.assert_allclose(
        my_b.union(st1, st2)["registers"],
        their_b.union(ref1, ref2).sketch,
        rtol=1e-12, err_msg="union diverges")
    return {"dist": dist, "method": method, "m": m, "seed": seed,
            "n1": len(ids1), "n2": len(ids2)}


FAMILIES = [
    ("hll", fam_hll),
    ("adbf", fam_adbf),
    ("bloom_classic", fam_bloom_classic),
    ("counting_bloom", fam_counting_bloom),
    ("fll", fam_fll),
    ("voc", fam_voc),
    ("liquid_legions", fam_liquid_legions),
    ("cascading_legions", fam_cascading_legions),
    ("ska", fam_ska),
    ("first_moment", fam_first_moment),
    ("ll_estimators", fam_ll_estimators),
    ("cl_golden", fam_cl_golden),
    ("adbf_setops", fam_adbf_setops),
]


def run_trial(trial: int, master_seed: int) -> dict:
    name, fn = FAMILIES[trial % len(FAMILIES)]
    rng = random.Random(f"{master_seed}:{trial}")
    t0 = time.time()
    rec = {"trial": trial, "family": name}
    try:
        rec["params"] = fn(rng)
        rec["ok"] = True
    except AssertionError as e:
        rec["ok"] = False
        rec["error"] = str(e)[:500]
    rec["sec"] = round(time.time() - t0, 2)
    return rec


def main() -> int:
    n_trials = int(sys.argv[1]) if len(sys.argv) > 1 else 65
    master_seed = int(sys.argv[2]) if len(sys.argv) > 2 else 20260818
    records = []
    failures = 0
    t0 = time.time()
    for trial in range(n_trials):
        rec = run_trial(trial, master_seed)
        records.append(rec)
        status = "OK" if rec["ok"] else f"FAIL {rec.get('error', '')}"
        print(f"  [{trial:3d}] {rec['family']:<18} {status} ({rec['sec']}s)",
              flush=True)
        if not rec["ok"]:
            failures += 1
    summary = {
        "n_trials": n_trials,
        "master_seed": master_seed,
        "failures": failures,
        "families": sorted({r["family"] for r in records}),
        "total_sec": round(time.time() - t0, 1),
        "trials": records,
    }
    with open(os.path.join(REPO, "PARITY_FUZZ.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print(f"PARITY_FUZZ: {n_trials - failures}/{n_trials} OK, "
          f"{len(summary['families'])} families, {summary['total_sec']}s")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
