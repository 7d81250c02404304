"""Synthetic (multi)set workload generators + Spark table helpers.

Re-expression of the reference's generator family (ref:
src/simulations/set_generator.py, frequency_set_generator.py). All generators
are driver-side numpy (set sizes in the reference's evaluation scenarios are
<= 1e7, vs the distributed token tables which are the engine's real input) —
the Spark surface is ``sets_to_items_df`` / ``sets_to_tokens_df``, which turn
a generated scenario into the engine's canonical tables.

Determinism: every generator takes a ``np.random.RandomState``; the
evaluator derives one per scenario so all estimators see identical data
(ref: evaluator.py:264-270).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
from pyspark.sql import DataFrame, SparkSession

ORDER_ORIGINAL = "original"
ORDER_REVERSED = "reversed"
ORDER_RANDOM = "random"
CORRELATED_ALL = "all"
CORRELATED_ONE = "one"
USER_ACTIVITY_IDENTICAL = "identical"
USER_ACTIVITY_INDEPENDENT = "independent"

# Dirac-mixture approximation of the exponential bow (public constants from
# the reach-curve paper the reference cites; ref: set_generator.py:42-43)
DIRAC_MIXTURE_ALPHA = [0.164, 0.388, 0.312, 0.136]
DIRAC_MIXTURE_X = [0.065, 0.4274, 1.275, 3.140]


def choice_fast(n, m: int, random_state: np.random.RandomState) -> np.ndarray:
    """Sample m without replacement in O(m) — Robert Floyd's algorithm
    (public: Bentley & Floyd, "A sample of brilliance", CACM 1987;
    ref analogue: common/random.py:18-70, doc/choice_speedup.md).

    Step j draws d_j from [0, size-m+j] and keeps it unless it was already
    chosen, in which case it takes r_j = size-m+j (never chosen before).
    Resolved in numpy, O(m) memory: a repeated draw is always rejected; a
    first occurrence v is rejected only if v = r_i for an earlier rejected
    step i, a short chain resolved over just those steps. The Python set is
    then built from the same insertion sequence, so its iteration order (the
    output order) is the one a per-element ``set.add`` loop gives."""
    if isinstance(n, (int, np.integer)):
        size, pool = int(n), None
    else:
        pool = np.asarray(n)
        size = len(pool)
    assert m <= size, f"cannot sample {m} from {size}"
    # uniform draws scaled to the shrinking upper ranges, floored
    draws = (random_state.random_sample(m) * np.arange(size - m + 1, size + 1)).astype(
        np.int64
    )
    steps = np.arange(m, dtype=np.int64)
    # repeated draws: sort on draw*m + step (no universe-sized scratch array)
    value, step = np.divmod(np.sort(draws * m + steps), m)
    rejected = np.zeros(m, dtype=bool)
    rejected[step[1:][value[1:] == value[:-1]]] = True
    src = draws - (size - m)  # the step whose replacement equals the draw
    chained = np.flatnonzero(~rejected & (src >= 0) & (src < steps))
    src = src[chained]
    # each chained step copies an earlier step's verdict: iterate to the
    # fixed point, one pass per link of the longest chain
    while len(chained) and (rejected[chained] != rejected[src]).any():
        rejected[chained] = rejected[src]
    chosen = set(np.where(rejected, size - m + steps, draws).tolist())
    idx = np.fromiter(chosen, np.int64, m)
    return idx if pool is None else pool[idx]


class _SetSizeRepeat:
    def __init__(self, num_sets: int, set_size: int):
        self.num_sets, self.set_size = num_sets, set_size

    def __iter__(self):
        return iter([self.set_size] * self.num_sets)


class IndependentSetGenerator:
    """Uniform without-replacement samples (ref: set_generator.py:46-79)."""

    def __init__(self, universe_size: int, set_sizes: Iterable[int], random_state):
        self.universe_size = universe_size
        self.set_sizes = list(set_sizes)
        self.rs = random_state

    @classmethod
    def factory_with_num_and_size(cls, universe_size, num_sets, set_size):
        return lambda rs: cls(universe_size, _SetSizeRepeat(num_sets, set_size), rs)

    def __iter__(self) -> Iterator[np.ndarray]:
        for size in self.set_sizes:
            yield choice_fast(self.universe_size, size, self.rs)


class ExponentialBowSetGenerator:
    """Heterogeneous reach via 4-point Dirac mixture
    (ref: set_generator.py:82-197)."""

    def __init__(self, user_activity_association, universe_size, set_sizes, random_state):
        if user_activity_association == USER_ACTIVITY_INDEPENDENT:
            self.shuffle_user = True
        elif user_activity_association == USER_ACTIVITY_IDENTICAL:
            self.shuffle_user = False
        else:
            raise ValueError(f"bad association {user_activity_association}")
        self.universe_size = universe_size
        self.set_sizes = list(set_sizes)
        if min(self.set_sizes) < 50:
            raise ValueError("set sizes < 50 unsupported for Dirac bow")
        self.rs = random_state

    @classmethod
    def factory_with_num_and_size(cls, association, universe_size, num_sets, set_size):
        return lambda rs: cls(association, universe_size, _SetSizeRepeat(num_sets, set_size), rs)

    def __iter__(self) -> Iterator[np.ndarray]:
        universe = np.arange(self.universe_size)
        alpha = np.array(DIRAC_MIXTURE_ALPHA) * self.universe_size
        bounds = np.concatenate([[0], np.cumsum(alpha)])
        for set_size in self.set_sizes:
            rate = set_size / self.universe_size
            pieces = []
            for i in range(len(alpha)):
                lb, ub = int(bounds[i]), int(bounds[i + 1])
                want = int(rate * DIRAC_MIXTURE_X[i] * alpha[i])
                if want >= ub - lb:
                    pieces.append(np.arange(lb, ub))
                else:
                    pieces.append(choice_fast(np.arange(lb, ub), want, self.rs))
            ids = np.hstack(pieces)
            if self.shuffle_user:
                self.rs.shuffle(universe)
                ids = universe[ids]
            yield ids


class FullyOverlapSetGenerator:
    """m identical sets (ref: set_generator.py:200-224)."""

    def __init__(self, universe_size, num_sets, set_size, random_state):
        self.ids = choice_fast(universe_size, set_size, random_state)
        self.num_sets = num_sets

    @classmethod
    def factory_with_num_and_size(cls, universe_size, num_sets, set_size):
        return lambda rs: cls(universe_size, num_sets, set_size, rs)

    def __iter__(self) -> Iterator[np.ndarray]:
        for _ in range(self.num_sets):
            yield self.ids


class SubSetGenerator:
    """Large sets + contained small subsets, order original/reversed/random
    (ref: set_generator.py:227-300)."""

    def __init__(self, order, universe_size, num_large_sets, num_small_sets,
                 large_set_size, small_set_size, random_state):
        assert small_set_size <= large_set_size
        num_sets = num_large_sets + num_small_sets
        self.set_indices = _ordered_indices(order, num_sets, random_state)
        self.large = choice_fast(universe_size, large_set_size, random_state)
        self.small = choice_fast(self.large, small_set_size, random_state)
        self.num_large = num_large_sets
        self.num_small = num_small_sets

    @classmethod
    def factory_with_num_and_size(cls, order, universe_size, num_large, num_small, large_size, small_size):
        return lambda rs: cls(order, universe_size, num_large, num_small, large_size, small_size, rs)

    def __iter__(self) -> Iterator[np.ndarray]:
        sets = [self.large] * self.num_large + [self.small] * self.num_small
        for i in self.set_indices:
            yield sets[i]


def _ordered_indices(order: str, num_sets: int, rs) -> list[int]:
    if order == ORDER_ORIGINAL:
        return list(range(num_sets))
    if order == ORDER_REVERSED:
        return list(reversed(range(num_sets)))
    if order == ORDER_RANDOM:
        return list(rs.choice(num_sets, num_sets, replace=False))
    raise ValueError(f"order={order} not supported")


class SequentiallyCorrelatedSetGenerator:
    """Each set shares shared_prop of its ids with the union-of-previous
    ('all') or the previous set ('one') (ref: set_generator.py:303-487)."""

    def __init__(self, order, correlated_sets, shared_prop, set_sizes, random_state):
        self.set_sizes = list(set_sizes)
        self.order_indices = _ordered_indices(order, len(self.set_sizes), random_state)
        self.correlated_sets = correlated_sets
        self.shared_prop = shared_prop
        self.rs = random_state

    @classmethod
    def factory_with_num_and_size(cls, order, correlated_sets, shared_prop, num_sets, set_size):
        return lambda rs: cls(order, correlated_sets, shared_prop,
                              _SetSizeRepeat(num_sets, set_size), rs)

    def _generate_all(self) -> list[np.ndarray]:
        # overlap with union of previous (ref: :132-163 semantics)
        sizes = self.set_sizes
        overlap_sizes = [0]
        total = sizes[0]
        for i in range(len(sizes) - 1):
            ov = min(int(sizes[i + 1] * self.shared_prop), total)
            overlap_sizes.append(ov)
            total += sizes[i + 1] - ov
        pool = np.arange(total)
        self.rs.shuffle(pool)
        union = np.array([], dtype=np.int64)
        out = []
        for i, size in enumerate(sizes):
            ov = overlap_sizes[i]
            from_union = choice_fast(union, ov, self.rs) if ov else np.array([], dtype=np.int64)
            fresh = pool[: size - ov]
            pool = pool[len(fresh):]
            union = np.concatenate([union, fresh])
            out.append(np.concatenate([from_union, fresh]))
        return out

    def _generate_one(self) -> list[np.ndarray]:
        # overlap with THE previous set = sliding window over a shuffled pool
        # (ref: :165-230 semantics)
        sizes = self.set_sizes
        overlap_sizes = [
            min(int(sizes[i + 1] * self.shared_prop), sizes[i])
            for i in range(len(sizes) - 1)
        ]
        total = int(sum(sizes) - sum(overlap_sizes))
        pool = np.arange(total)
        self.rs.shuffle(pool)
        out = []
        start = 0
        for i, size in enumerate(sizes):
            out.append(pool[start : start + size])
            if i < len(sizes) - 1:
                start += size - overlap_sizes[i]
        return out

    def __iter__(self) -> Iterator[np.ndarray]:
        if self.correlated_sets == CORRELATED_ALL:
            sets = self._generate_all()
        elif self.correlated_sets == CORRELATED_ONE:
            sets = self._generate_one()
        else:
            raise ValueError(f"correlated_sets={self.correlated_sets} not supported")
        for i in self.order_indices:
            yield sets[i]


class DisjointSetGenerator:
    """Deterministic disjoint ranges (ref: set_generator.py:490-530)."""

    def __init__(self, set_sizes, random_state=None):
        self.set_sizes = list(set_sizes)

    @classmethod
    def factory_with_num_and_size(cls, num_sets, set_size):
        return lambda rs: cls(_SetSizeRepeat(num_sets, set_size), rs)

    def __iter__(self) -> Iterator[np.ndarray]:
        start = 0
        for size in self.set_sizes:
            yield np.arange(start, start + size)
            start += size


# --------------------------------------------------------------------------
# Frequency (multiset) generators (ref: frequency_set_generator.py)
# --------------------------------------------------------------------------

class HomogeneousPmfMultiSetGenerator:
    """Per-set PMF over frequencies (ref: frequency_set_generator.py:33-79)."""

    def __init__(self, universe_size, set_sizes, pmfs, random_state):
        self.set_sizes = list(set_sizes)
        self.pmfs = [np.asarray(p, dtype=float) for p in pmfs]
        assert len(self.set_sizes) == len(self.pmfs)
        assert all(abs(p.sum() - 1.0) < 1e-9 for p in self.pmfs), "PMF must sum to 1"
        self.universe_size = universe_size
        self.rs = random_state

    def __iter__(self) -> Iterator[np.ndarray]:
        for size, pmf in zip(self.set_sizes, self.pmfs):
            ids = choice_fast(self.universe_size, size, self.rs)
            freq = self.rs.choice(len(pmf), size=size, p=pmf) + 1
            multiset = np.repeat(ids, freq)
            self.rs.shuffle(multiset)
            yield multiset


def truncated_poisson_pmf(mu: float, max_freq: int) -> np.ndarray:
    """Poisson pmf truncated with mass lump at max_freq
    (ref: frequency_set_generator.py:123-148)."""
    assert mu > 0 and max_freq > 0
    k = np.arange(max_freq - 1)
    log_fact = np.concatenate(([0.0], np.cumsum(np.log(np.maximum(k[1:], 1)))))
    pmf = np.exp(-mu + k * np.log(mu) - log_fact)
    return np.concatenate([pmf, [1.0 - pmf.sum()]])


class HomogeneousMultiSetGenerator(HomogeneousPmfMultiSetGenerator):
    """freq ~ truncated(Poisson(rate)) + 1 (ref: frequency_set_generator.py:82-182)."""

    def __init__(self, universe_size, set_sizes, freq_rates, random_state, freq_cap=100):
        sizes = list(set_sizes)
        rates = list(freq_rates)
        assert len(sizes) == len(rates)
        assert all(r >= 0 for r in rates)
        assert freq_cap > 0
        pmfs = [truncated_poisson_pmf(mu, freq_cap - 1) for mu in rates]
        super().__init__(universe_size, sizes, pmfs, random_state)

    @classmethod
    def factory_with_num_and_size(cls, universe_size, num_sets, set_size, freq_rates, freq_cap):
        return lambda rs: cls(universe_size, [set_size] * num_sets, freq_rates, rs, freq_cap)


class HeterogeneousMultiSetGenerator:
    """Gamma-Poisson (negative binomial) per-user frequency
    (ref: frequency_set_generator.py:185-282)."""

    def __init__(self, universe_size, set_sizes, gamma_params, random_state, freq_cap=None):
        self.set_sizes = list(set_sizes)
        self.gamma_params = list(gamma_params)
        assert len(self.set_sizes) == len(self.gamma_params)
        assert all(p[0] > 0 and p[1] > 0 for p in self.gamma_params)
        assert freq_cap is None or freq_cap > 0
        self.universe_size = universe_size
        self.freq_cap = freq_cap
        self.rs = random_state

    @classmethod
    def factory_with_num_and_size(cls, universe_size, num_sets, set_size, gamma_params, freq_cap):
        assert num_sets == len(gamma_params)
        return lambda rs: cls(universe_size, [set_size] * num_sets, gamma_params, rs, freq_cap)

    def __iter__(self) -> Iterator[np.ndarray]:
        for size, (shape, scale) in zip(self.set_sizes, self.gamma_params):
            ids = choice_fast(self.universe_size, size, self.rs)
            rates = self.rs.gamma(shape=shape, scale=scale, size=size)
            freq = self.rs.poisson(lam=rates, size=size) + 1
            if self.freq_cap:
                freq = np.minimum(freq, self.freq_cap)
            multiset = np.repeat(ids, freq)
            self.rs.shuffle(multiset)
            yield multiset


class PublisherConstantFrequencySetGenerator(HomogeneousPmfMultiSetGenerator):
    """Every reached id has the same frequency
    (ref: frequency_set_generator.py:285-341)."""

    def __init__(self, universe_size, set_sizes, frequency, random_state):
        sizes = list(set_sizes)
        assert all(s > 0 for s in sizes)
        assert frequency > 0
        pmfs = [[0.0] * (frequency - 1) + [1.0]] * len(sizes)
        super().__init__(universe_size, sizes, pmfs, random_state)

    @classmethod
    def factory_with_num_and_size(cls, universe_size, num_sets, set_size, frequency):
        return lambda rs: cls(universe_size, [set_size] * num_sets, frequency, rs)


# --------------------------------------------------------------------------
# Spark table helpers
# --------------------------------------------------------------------------

def sets_to_items_df(spark: SparkSession, sets: list[np.ndarray],
                     partitions: int | None = None) -> DataFrame:
    """Scenario → (source string, item long) table — the engine's exploded
    form. Sources are named set_0000.. in generation order."""
    import pandas as pd

    frames = [
        pd.DataFrame({"source": f"set_{i:04d}", "item": np.asarray(ids, dtype=np.int64)})
        for i, ids in enumerate(sets)
    ]
    pdf = pd.concat(frames, ignore_index=True)
    df = spark.createDataFrame(pdf)
    return df.repartition(partitions) if partitions else df


def sets_to_tokens_df(spark: SparkSession, sets: list[np.ndarray],
                      tokens_per_doc: int = 64) -> DataFrame:
    """Scenario → canonical pre-tokenized table
    (doc_id string, tokens array<int>, n_tok int, source string)."""
    import pandas as pd

    rows = []
    for i, ids in enumerate(sets):
        ids = np.asarray(ids, dtype=np.int64)
        for d, lo in enumerate(range(0, len(ids), tokens_per_doc)):
            chunk = ids[lo : lo + tokens_per_doc]
            rows.append(
                (f"set{i:04d}_doc{d:06d}", chunk.astype(np.int32).tolist(),
                 len(chunk), f"set_{i:04d}")
            )
    pdf = pd.DataFrame(rows, columns=["doc_id", "tokens", "n_tok", "source"])
    return spark.createDataFrame(pdf, schema="doc_id string, tokens array<int>, n_tok int, source string")
