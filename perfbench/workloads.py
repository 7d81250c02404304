"""The benchmark workloads.

Each workload owns its inputs (made from the seed, in this one driver
process), its oracle (computed in-process, in set-up), the measured job,
the check of every job's output, and the extra per-layer measurements of
the traced run. Only public functions of the package are called; see
README.md for why each workload exists and which layers it loads.
"""

from __future__ import annotations

import dataclasses
import hashlib
import math
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from cardinality_estimation_evaluation_framework_spark.operators import aggregate as agg
from cardinality_estimation_evaluation_framework_spark.simulation import analyzer
from cardinality_estimation_evaluation_framework_spark.simulation.configs import smoke_test
from cardinality_estimation_evaluation_framework_spark.simulation.estimators import (
    get_estimator_configs,
)
from cardinality_estimation_evaluation_framework_spark.simulation.evaluator import (
    Evaluator,
    read_results,
)
from cardinality_estimation_evaluation_framework_spark.simulation.simulator import Simulator
from cardinality_estimation_evaluation_framework_spark.sketches.base import SketchKernel
from cardinality_estimation_evaluation_framework_spark.sketches.bloom import BloomKernel
from cardinality_estimation_evaluation_framework_spark.sketches.countmin import CountMinKernel
from cardinality_estimation_evaluation_framework_spark.sketches.hll import HllKernel
from cardinality_estimation_evaluation_framework_spark.sketches.suite import SuiteKernel

from perfbench.spans import SpanLog, TracedKernel, traced_estimator_config, traced_scenario

#: token-id vocabulary of the synthetic corpus
VOCAB = 1 << 22
#: estimates outside this many times their published bound count as outside
BOUND_FACTOR = 3.0
#: a job's time keeps falling over the first few jobs of a fresh JVM
WARM_UP_JOBS = 2
#: repetitions of each aggregate stage timing in the traced run
STAGE_REPS = 2


@dataclass
class Check:
    """Outcome of one job's output check."""

    ok: bool
    estimates: int = 0
    outside: int = 0
    detail: str = ""


@dataclass
class Stages:
    """aggregate.* timings of the traced run (seconds, counts, bytes)."""

    stage1_s: float = 0.0
    merge_s: float = 0.0
    estimate_s: float = 0.0
    partials: float = 0.0
    partial_bytes: float = 0.0


def _token_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """Text-like token ids: half from a Zipf head, half uniform."""
    head = rng.zipf(1.3, n) % VOCAB
    tail = rng.integers(0, VOCAB, n)
    return np.where(rng.random(n) < 0.5, head, tail).astype(np.int32)


def _write_corpus(directory: str, doc_source: np.ndarray, n_tok: np.ndarray,
                  tokens: np.ndarray, n_files: int, seed: int) -> None:
    """Write the (doc_id, tokens, n_tok, source) table as ``n_files``
    parquet files, one Spark input split each."""
    shutil.rmtree(directory, ignore_errors=True)
    os.makedirs(directory)
    offsets = np.concatenate(([0], np.cumsum(n_tok))).astype(np.int32)
    table = pa.table({
        "doc_id": pa.array([f"{seed}-{i}" for i in range(len(n_tok))]),
        "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(tokens)),
        "n_tok": pa.array(n_tok, type=pa.int32()),
        "source": pa.array(doc_source),
    })
    bounds = np.linspace(0, len(n_tok), n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(directory, f"part-{i:04d}.parquet"))


def _drain(batches):
    """Arrow passthrough control: receive every batch, keep nothing."""
    n = 0
    for pdf in batches:
        n += len(pdf)
    yield pd.DataFrame({"n": [n]})


def _median_time(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return float(np.median(times))


class CorruptingKernel(SketchKernel):
    """Self-test kernel: every partial state it hands on is damaged. Packed
    states get their first array's first element bumped; driver-built
    states lose the first item of each batch."""

    def __init__(self, inner: SketchKernel):
        self.inner = inner
        self.input_dtype = inner.input_dtype

    def __getattr__(self, name):
        if name == "inner":
            raise AttributeError(name)
        return getattr(self.inner, name)

    def spec(self):
        return self.inner.spec()

    def empty(self):
        return self.inner.empty()

    def update(self, state, values):
        return self.inner.update(state, values[1:])

    def merge(self, a, b):
        return self.inner.merge(a, b)

    def pack(self, state):
        first = sorted(state)[0]
        state = dict(state, **{first: state[first].copy()})
        state[first].flat[0] += 1
        return self.inner.pack(state)

    def unpack(self, raw):
        return self.inner.unpack(raw)

    def estimate(self, state):
        return self.inner.estimate(state)

    def quantile(self, state, q):
        return self.inner.quantile(state, q)


class Workload:
    """Common shape: set-up pieces, the measured job, its check, and the
    traced run's layer measurements."""

    name = ""
    #: units of work in one job, for the throughput metrics
    tokens_per_job = 0
    runs_per_job = 1
    #: whether the untraced run needs a Spark session (else spark is None)
    needs_spark = True

    def __init__(self, seed: int, work: str, nproc: int, inject: str | None = None):
        self.seed = seed
        self.work = work
        self.nproc = nproc
        self.inject = inject

    def kernel(self, base: SketchKernel, log: SpanLog | None) -> SketchKernel:
        if self.inject == "corrupt-partial":
            base = CorruptingKernel(base)
        return TracedKernel(base, log) if log is not None else base

    def fingerprint(self) -> str:
        """Digest of the oracle, to show set-up is deterministic per seed."""
        raise NotImplementedError

    def generate(self) -> None:
        raise NotImplementedError

    def compute_oracle(self, spark) -> None:
        raise NotImplementedError

    def warm_up(self, spark, jobs: int = WARM_UP_JOBS) -> None:
        """Unchecked jobs, so the JIT, the Python workers and every stage of
        the plan are warm before the clock starts."""
        for _ in range(jobs):
            self.run_job(spark, None)

    def run_job(self, spark, log: SpanLog | None):
        """Returns (seconds, output); only the build is timed."""
        raise NotImplementedError

    def read_input(self, spark):
        return spark.read.parquet(self.input_dir)

    def check(self, out) -> Check:
        raise NotImplementedError

    def controls(self, spark) -> tuple[float, float]:
        """(JVM-only pass, Arrow passthrough) seconds over the job's input."""
        raise NotImplementedError

    def stages(self, spark) -> Stages:
        return Stages()

    def layer_extras(self, spark) -> dict[str, float]:
        return {}

    def close(self) -> None:
        """Remove what the workload wrote; called before the session stops."""


# ---------------------------------------------------------------------------
# corpus_suite
# ---------------------------------------------------------------------------

class CorpusSuite(Workload):
    """One global suite build (HLL p=14, count-min 4x4096, exponential ADBF)
    over the pre-tokenized table, token arrays consumed without explode."""

    name = "corpus_suite"
    N_DOCS = 20_000
    N_QUERIES = 256

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.suite = SuiteKernel({
            "hll": HllKernel(p=14, seed=42),
            "cm": CountMinKernel(width=4096, depth=4, seed=1),
            "bloom": BloomKernel(dist_kind="exponential", m=65536, seed=2, decay_rate=10.0),
        })
        self.input_dir = os.path.join(self.work, "corpus")
        self.n_files = 4 * self.nproc

    def generate(self) -> None:
        rng = np.random.default_rng([self.seed, 1])
        n_tok = rng.integers(20, 181, self.N_DOCS).astype(np.int32)
        self.tokens = _token_ids(rng, int(n_tok.sum()))
        self.tokens_per_job = len(self.tokens)
        sources = np.array([f"src-{i}" for i in range(8)])
        doc_source = sources[rng.integers(0, len(sources), self.N_DOCS)]
        _write_corpus(self.input_dir, doc_source, n_tok, self.tokens, self.n_files, self.seed)

    def compute_oracle(self, spark) -> None:
        items = self.tokens.astype(np.int64)
        self.oracle = self.suite.update(self.suite.empty(), items)
        uniq, counts = np.unique(items, return_counts=True)
        self.true_distinct = len(uniq)
        # count-min point queries: the heaviest tokens plus a seeded sample
        rng = np.random.default_rng([self.seed, 2])
        heavy = np.argsort(counts)[::-1][: self.N_QUERIES // 4]
        rest = rng.choice(len(uniq), self.N_QUERIES - len(heavy), replace=False)
        pick = np.concatenate((heavy, rest))
        self.query_ids, self.query_true = uniq[pick], counts[pick]
        if self.inject == "wrong-oracle":
            self.oracle["hll::registers"][0] += 1

    def fingerprint(self) -> str:
        h = hashlib.sha256()
        for key in sorted(self.oracle):
            h.update(key.encode())
            h.update(np.ascontiguousarray(self.oracle[key]).tobytes())
        return h.hexdigest()

    def warm_up(self, spark, jobs: int = WARM_UP_JOBS) -> None:
        nparts = self.read_input(spark).rdd.getNumPartitions()
        if nparts < self.n_files:
            raise RuntimeError(f"{nparts} input splits, want {self.n_files}")
        super().warm_up(spark, jobs)

    def build(self, df, kernel):
        # fanout and collect threshold = nproc: the 4*nproc partials take one
        # executor-side merge level before the driver fold
        return agg.tree_merge(
            agg.sketch_array_partials(df, kernel), kernel,
            fanout=self.nproc, collect_threshold=self.nproc,
        )

    def run_job(self, spark, log):
        kernel = self.kernel(self.suite, log)
        df = self.read_input(spark)
        t0 = time.perf_counter()
        state = self.build(df, kernel)
        return time.perf_counter() - t0, state

    def estimates(self, state) -> tuple[int, int]:
        """(estimates, outside 3x bound): the HLL distinct count, and
        count-min point queries against the one-sided e*N/width bound."""
        hll, cm = self.suite.kernels["hll"], self.suite.kernels["cm"]
        est = hll.estimate(self.suite.child(state, "hll"))[0]
        outside = int(abs(est / self.true_distinct - 1) > BOUND_FACTOR * hll.std_error())
        cm_state = self.suite.child(state, "cm")
        over = cm.query(cm_state, self.query_ids) - self.query_true
        eps, _ = cm.error_bound()
        outside += int(np.count_nonzero(over > BOUND_FACTOR * eps * self.tokens_per_job))
        return 1 + len(over), outside

    def check(self, state) -> Check:
        if sorted(state) != sorted(self.oracle):
            return Check(False, detail="state arrays differ")
        for key, want in self.oracle.items():
            got = state[key]
            if got.dtype != want.dtype or not np.array_equal(got, want):
                return Check(False, detail=f"{key} differs from the in-process build")
        if int(state["cm::n"][0]) != self.tokens_per_job:
            return Check(False, detail="count-min total != token count")
        cm = self.suite.kernels["cm"]
        if np.any(cm.query(self.suite.child(state, "cm"), self.query_ids) < self.query_true):
            return Check(False, detail="count-min undercounts")
        n, outside = self.estimates(state)
        return Check(True, n, outside)

    def controls(self, spark):
        df = self.read_input(spark)
        jvm = _median_time(lambda: df.select(F.explode("tokens").alias("t")).agg(
            F.sum(F.col("t").cast("long")), F.count(F.lit(1))).first())
        arrow = _median_time(lambda: df.select("tokens").mapInPandas(
            _drain, "n long").agg(F.sum("n")).first())
        return jvm, arrow

    def stages(self, spark):
        df = self.read_input(spark).persist()
        df.agg(F.sum(F.size("tokens"))).first()
        s1, mg, es, parts, nbytes = [], [], [], 0, 0
        for _ in range(STAGE_REPS):
            t0 = time.perf_counter()
            partials = agg.sketch_array_partials(df, self.suite).persist()
            row = partials.agg(F.count(F.lit(1)), F.sum(F.length("sketch"))).first()
            t1 = time.perf_counter()
            state = agg.tree_merge(partials, self.suite, fanout=self.nproc,
                                   collect_threshold=self.nproc)
            t2 = time.perf_counter()
            self.estimates(state)
            t3 = time.perf_counter()
            partials.unpersist(blocking=True)
            s1.append(t1 - t0)
            mg.append(t2 - t1)
            es.append(t3 - t2)
            parts, nbytes = row[0], row[1]
        df.unpersist(blocking=True)
        return Stages(float(np.median(s1)), float(np.median(mg)), float(np.median(es)),
                      float(parts), float(nbytes))


# ---------------------------------------------------------------------------
# eval_grid
# ---------------------------------------------------------------------------

class EvalGrid(Workload):
    """The reference's smoke_test scenarios through Evaluator in driver
    mode, which writes its parquet cells. Given a session (the traced run),
    a job also reads them back with read_results and
    analyzer.num_estimable_sets_df, as the CLI does; the untraced run has
    no session and leaves that read-back out (see README)."""

    name = "eval_grid"
    needs_spark = False
    ESTIMATORS = ["exact", "hll", "exp_adbf"]
    #: one evaluator thread: the cells are GIL-bound, and a thread per core
    #: made a pass both slower and two to five times noisier on a 4-core box
    WORKERS = 1
    NUM_RUNS = 2
    UNIVERSE = 40_000
    NUM_SETS = 10

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.config = smoke_test(num_runs=self.NUM_RUNS, universe_size=self.UNIVERSE,
                                 num_sets=self.NUM_SETS)
        self.estimators = get_estimator_configs(self.ESTIMATORS)
        self.exact_name = self.estimators[0].name
        self.hll_name = self.estimators[1].name
        self.hll_bound = BOUND_FACTOR * 1.04 / math.sqrt(1 << 14)
        self.runs_per_job = (len(self.estimators) * len(self.config.scenario_config_list)
                             * self.NUM_RUNS)
        self.out_root = os.path.join(self.work, "eval")
        self.passes = 0
        self.metric_ref = None
        self.cell_s: list[float] = []
        self.analyzer_s: list[float] = []

    def generate(self) -> None:
        # the sets themselves are drawn inside the simulator; set-up counts
        # the ids one pass feeds to the sketches (sizes do not depend on
        # the random state)
        rs = np.random.RandomState(self.seed)
        ids = sum(len(s) for sc in self.config.scenario_config_list
                  for s in sc.set_generator_factory(rs))
        self.tokens_per_job = ids * len(self.estimators) * self.NUM_RUNS

    def compute_oracle(self, spark) -> None:
        """The reference raw results: one evaluator pass, which every
        measured pass must repeat exactly."""
        self.evaluate(None)
        self.oracle = hashlib.sha256(self.raw_results().to_csv(index=False).encode()).hexdigest()
        if self.inject == "wrong-oracle":
            self.oracle = hashlib.sha256(self.oracle.encode()).hexdigest()

    def fingerprint(self) -> str:
        return self.oracle

    def warm_up(self, spark, jobs: int = WARM_UP_JOBS) -> None:
        """The oracle pass warmed the simulator; with a session, warm the
        Spark read-back too."""
        if spark is not None:
            self.read_back(spark)

    def evaluation(self, log):
        config, estimators = self.config, self.estimators
        if self.inject == "corrupt-partial":
            estimators = [
                dataclasses.replace(
                    e, kernel_factory=lambda seed, f=e.kernel_factory: CorruptingKernel(f(seed)))
                for e in estimators
            ]
        if log is not None:
            estimators = [traced_estimator_config(e, log) for e in estimators]
            config = dataclasses.replace(
                config,
                scenario_config_list=[traced_scenario(s, log) for s in config.scenario_config_list],
            )
        return config, estimators

    def evaluate(self, log) -> list[dict]:
        """One Evaluator pass into a fresh directory (the previous pass's
        directory is removed)."""
        config, estimators = self.evaluation(log)
        if self.passes:
            shutil.rmtree(self.last_results_dir, ignore_errors=True)
        self.last_results_dir = os.path.join(self.out_root, f"pass-{self.passes}")
        self.passes += 1
        return Evaluator(config, estimators, self.last_results_dir, workers=self.WORKERS,
                         random_seed=self.seed)()

    def read_back(self, spark) -> pd.DataFrame:
        results = read_results(spark, self.last_results_dir, self.config.name)
        metric = analyzer.num_estimable_sets_df(results).toPandas()
        return metric.sort_values(["sketch_estimator", "scenario"]).reset_index(drop=True)

    def raw_results(self) -> pd.DataFrame:
        """The raw result cells of the last pass, read with pandas."""
        root = os.path.join(self.last_results_dir, self.config.name)
        cells = [pd.read_parquet(os.path.join(root, est, scen, "df.parquet"))
                 for est in sorted(os.listdir(root)) if est.startswith("estimator=")
                 for scen in sorted(os.listdir(os.path.join(root, est)))]
        raw = pd.concat(cells, ignore_index=True)
        return raw[sorted(raw.columns)].sort_values(
            ["estimator", "scenario", "run_index", "num_sets"]).reset_index(drop=True)

    def run_job(self, spark, log):
        t0 = time.perf_counter()
        cells = self.evaluate(log)
        t1 = time.perf_counter()
        metric = self.read_back(spark) if spark is not None else None
        t2 = time.perf_counter()
        if log is not None:
            self.cell_s += [c["wall_sec"] for c in cells]
            self.analyzer_s.append(t2 - t1)
        return t2 - t0, {"metric": metric, "raw": self.raw_results()}

    def check(self, out) -> Check:
        raw = out["raw"]
        rows = self.NUM_RUNS * self.NUM_SETS * len(self.config.scenario_config_list)
        counts = raw.groupby("estimator").size()
        if sorted(counts.index) != sorted(e.name for e in self.estimators):
            return Check(False, detail="estimator set differs")
        if (counts != rows).any():
            return Check(False, detail="result row count differs")
        err = raw["relative_error_1"].abs()
        if err[raw["estimator"] == self.exact_name].max() != 0:
            return Check(False, detail="exact estimator has a nonzero relative error")
        if hashlib.sha256(raw.to_csv(index=False).encode()).hexdigest() != self.oracle:
            return Check(False, detail="raw results differ from the set-up pass")
        if out["metric"] is not None:
            if self.metric_ref is None:
                self.metric_ref = out["metric"]
            elif not out["metric"].equals(self.metric_ref):
                return Check(False, detail="num_estimable_sets table differs across repetitions")
        hll = err[raw["estimator"] == self.hll_name]
        return Check(True, len(hll), int((hll > self.hll_bound).sum()))

    def controls(self, spark):
        results = read_results(spark, self.last_results_dir, self.config.name)
        jvm = _median_time(lambda: results.agg(
            F.sum("relative_error_1"), F.count(F.lit(1))).first())
        arrow = _median_time(lambda: results.mapInPandas(_drain, "n long").agg(
            F.sum("n")).first())
        return jvm, arrow

    def layer_extras(self, spark) -> dict[str, float]:
        """simulator.run_s_p50 from direct Simulator.run_one calls, one per
        (scenario, estimator) cell; evaluator and analyzer medians from the
        traced passes."""
        runs = []
        for i, scen in enumerate(self.config.scenario_config_list):
            for est in self.estimators:
                sim = Simulator(
                    num_runs=1, set_generator_factory=scen.set_generator_factory,
                    sketch_estimator_config=est,
                    sketch_random_state=np.random.RandomState(self.seed + i),
                    set_random_state=np.random.RandomState(self.seed + i + 1),
                )
                t0 = time.perf_counter()
                sim.run_one()
                runs.append(time.perf_counter() - t0)
        return {
            "simulator.run_s_p50": float(np.median(runs)),
            "evaluator.cell_s_p50": float(np.median(self.cell_s)),
            "analyzer.s": float(np.median(self.analyzer_s)),
        }

    def close(self) -> None:
        shutil.rmtree(self.out_root, ignore_errors=True)


WORKLOADS = {w.name: w for w in (CorpusSuite, EvalGrid)}
