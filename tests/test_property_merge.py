"""Property-based merge-law tests (hypothesis): for every associative
kernel, merge must be commutative, associative, and identical to a
single-pass build for ANY partitioning of ANY input — the algebraic
contract the distributed tree merge relies on (beyond the fixed-seed cases
in the unit tests)."""

from collections import Counter

import numpy as np
from hypothesis import given, settings, strategies as st

from cardinality_estimation_evaluation_framework_spark.sketches.bloom import BloomKernel
from cardinality_estimation_evaluation_framework_spark.sketches.countmin import CountMinKernel
from cardinality_estimation_evaluation_framework_spark.sketches.exact import ExactMultiSetKernel
from cardinality_estimation_evaluation_framework_spark.sketches.fll import FllKernel
from cardinality_estimation_evaluation_framework_spark.sketches.hll import HllKernel
from cardinality_estimation_evaluation_framework_spark.sketches.liquid_legions import (
    LiquidLegionsKernel,
)
from cardinality_estimation_evaluation_framework_spark.sketches.vector_of_counts import (
    VocKernel,
)

KERNELS = [
    lambda: HllKernel(p=6, seed=3),
    lambda: BloomKernel(dist_kind="exponential", m=64, seed=1, decay_rate=5.0),
    lambda: BloomKernel(dist_kind="uniform", m=64, seed=2, value_fn="sum"),
    lambda: CountMinKernel(width=32, depth=3, seed=4),
    lambda: VocKernel(num_buckets=32, seed=5),
    lambda: FllKernel(p=5, seed=6, max_freq=4),
    lambda: LiquidLegionsKernel(a=5.0, m=64, seed=7),
]

ids_strategy = st.lists(st.integers(min_value=0, max_value=500), min_size=0, max_size=200)


def _eq(a, b):
    return all(np.array_equal(np.asarray(a[k]), np.asarray(b[k])) for k in a)


@settings(max_examples=30, deadline=None)
@given(xs=ids_strategy, ys=ids_strategy, zs=ids_strategy)
def test_merge_laws_all_kernels(xs, ys, zs):
    for mk in KERNELS:
        k = mk()
        a = k.update(k.empty(), np.array(xs, dtype=np.int64))
        b = k.update(k.empty(), np.array(ys, dtype=np.int64))
        c = k.update(k.empty(), np.array(zs, dtype=np.int64))
        # commutativity
        assert _eq(k.merge(a, b), k.merge(b, a)), type(k).__name__
        # associativity
        assert _eq(
            k.merge(k.merge(a, b), c), k.merge(a, k.merge(b, c))
        ), type(k).__name__
        # identity: merging with empty is a no-op
        assert _eq(k.merge(a, k.empty()), a), type(k).__name__


@settings(max_examples=30, deadline=None)
@given(
    xs=st.lists(st.integers(min_value=0, max_value=2_000), min_size=1, max_size=400),
    cut=st.integers(min_value=0, max_value=400),
)
def test_any_partitioning_matches_single_pass(xs, cut):
    ids = np.array(xs, dtype=np.int64)
    cut = min(cut, len(ids))
    for mk in KERNELS:
        k = mk()
        whole = k.update(k.empty(), ids)
        left = k.update(k.empty(), ids[:cut])
        right = k.update(k.empty(), ids[cut:])
        assert _eq(whole, k.merge(left, right)), type(k).__name__


@settings(max_examples=60, deadline=None)
@given(
    chunks=st.lists(
        st.lists(st.integers(min_value=-(2**62), max_value=2**62) | st.integers(0, 20),
                 max_size=60),
        min_size=1, max_size=5),
    split=st.integers(min_value=0, max_value=5),
)
def test_exact_multiset_matches_counter(chunks, split):
    # update (raw values) and merge (states) against a Counter oracle: ids
    # strictly sorted, int64 counts summed exactly, inputs left untouched
    k = ExactMultiSetKernel()
    split = min(split, len(chunks))
    left = k.empty()
    for c in chunks[:split]:
        left = k.update(left, np.asarray(c, dtype=np.int64))
    parts = [k.update(k.empty(), np.asarray(c, dtype=np.int64)) for c in chunks[split:]]
    copies = [{name: arr.copy() for name, arr in p.items()} for p in parts]
    state = left
    for p in parts:
        state = k.merge(state, p)
    assert all(_eq(p, c) for p, c in zip(parts, copies))
    oracle = Counter(x for c in chunks for x in c)
    assert state["ids"].dtype == np.int64 and state["counts"].dtype == np.int64
    assert (np.diff(state["ids"]) > 0).all()
    assert dict(zip(state["ids"].tolist(), state["counts"].tolist())) == oracle
    assert k.frequency_histogram(state).tolist() == [
        sum(1 for v in oracle.values() if v >= f)
        for f in range(1, max(oracle.values(), default=0) + 1)]
