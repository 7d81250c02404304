import numpy as np
from pyspark.sql import functions as F

from cardinality_estimation_evaluation_framework_spark.operators import aggregate as agg
from cardinality_estimation_evaluation_framework_spark.sketches.hll import HllKernel


def test_sketch_matches_local_kernel(spark):
    n = 200_000
    df = spark.range(n).select(F.col("id").alias("item"))
    k = HllKernel(p=12, seed=9)
    state = agg.sketch(df, k)
    local = k.update(k.empty(), np.arange(n, dtype=np.int64))
    assert (state["registers"] == local["registers"]).all()


def test_partitioning_invariance(spark):
    # bit-identical registers across partitionings (north-rule associativity)
    df = spark.range(100_000).select(F.col("id").alias("item"))
    k = HllKernel(p=11, seed=4)
    s2 = agg.sketch(df.repartition(2), k)
    s32 = agg.sketch(df.repartition(32), k, fanout=4)
    assert (s2["registers"] == s32["registers"]).all()


def test_estimate_within_bound(spark):
    n = 500_000
    df = spark.range(n).select(F.col("id").alias("item"))
    k = HllKernel(p=14, seed=1)
    est = k.estimate(agg.sketch(df, k))[0]
    assert abs(est - n) / n < 0.05


def test_string_column_hashed_jvm_side(spark):
    df = spark.range(10_000).select(F.concat(F.lit("u"), F.col("id")).alias("item"))
    k = HllKernel(p=12, seed=2)
    est = k.estimate(agg.sketch(df, k, col="item"))[0]
    assert abs(est - 10_000) / 10_000 < 0.05


def test_grouped_sketch(spark):
    df = spark.range(60_000).select(
        (F.col("id") % 3).cast("string").alias("src"),
        F.col("id").alias("item"),
    )
    k = HllKernel(p=12, seed=7)
    sk = agg.grouped_sketch(df, k, ["src"], "item")
    est = agg.grouped_estimate(sk, k, ["src"], "estimate").collect()
    assert len(est) == 3
    for row in est:
        assert abs(row["estimate"] - 20_000) / 20_000 < 0.05


def test_grouped_sketch_null_key(spark):
    # NULL group keys must form their own group (the single-key factorize
    # fast path would otherwise code them -1 and fold their items into the
    # LAST key's sketch — or crash on an all-null batch)
    df = spark.range(30_000).select(
        F.when(F.col("id") % 3 == 0, None)
        .otherwise((F.col("id") % 3).cast("string"))
        .alias("src"),
        F.col("id").alias("item"),
    )
    k = HllKernel(p=12, seed=7)
    est = agg.grouped_estimate(
        agg.grouped_sketch(df, k, ["src"], "item"), k, ["src"], "estimate"
    ).collect()
    by_key = {row["src"]: row["estimate"] for row in est}
    assert set(by_key) == {None, "1", "2"}
    for key, e in by_key.items():
        assert abs(e - 10_000) / 10_000 < 0.05, key
    # all-null keys: one group whose registers are bit-identical to a
    # local build over the same items (estimate accuracy is irrelevant
    # here; grouping correctness is the point)
    df_null = spark.range(5_000).select(
        F.lit(None).cast("string").alias("src"), F.col("id").alias("item")
    )
    rows = agg.grouped_sketch(df_null, k, ["src"], "item").collect()
    assert len(rows) == 1 and rows[0]["src"] is None
    local = k.update(k.empty(), np.arange(5_000, dtype=np.int64))
    got = k.unpack(bytes(rows[0]["sketch"]))
    assert (got["registers"] == local["registers"]).all()


def test_grouped_sketch_multi_key_null(spark):
    # two key columns, the first partly NULL: the MultiIndex path must keep
    # (NULL, g) as its own group per g, never fold it into another key
    n = 30_000
    df = spark.range(n).select(
        F.when(F.col("id") % 3 == 0, None)
        .otherwise((F.col("id") % 3).cast("string"))
        .alias("src"),
        (F.col("id") % 2).cast("string").alias("grp"),
        F.col("id").alias("item"),
    )
    k = HllKernel(p=12, seed=7)
    rows = agg.grouped_sketch(df, k, ["src", "grp"], "item").collect()
    got = {(r["src"], r["grp"]): (r["rows"], k.unpack(bytes(r["sketch"]))) for r in rows}
    ids = np.arange(n, dtype=np.int64)
    expected = {}
    for s in (0, 1, 2):
        for g in (0, 1):
            key = (None if s == 0 else str(s), str(g))
            expected[key] = ids[(ids % 3 == s) & (ids % 2 == g)]
    assert set(got) == set(expected)
    for key, items in expected.items():
        n_rows, state = got[key]
        assert n_rows == len(items), key
        local = k.update(k.empty(), items)
        assert (state["registers"] == local["registers"]).all(), key
    # first key all NULL: one group per value of the second key
    df_null = spark.range(6_000).select(
        F.lit(None).cast("string").alias("src"),
        (F.col("id") % 2).cast("string").alias("grp"),
        F.col("id").alias("item"),
    )
    rows = agg.grouped_sketch(df_null, k, ["src", "grp"], "item").collect()
    assert sorted((r["src"], r["grp"]) for r in rows) == [(None, "0"), (None, "1")]
    for r in rows:
        items = np.arange(int(r["grp"]), 6_000, 2, dtype=np.int64)
        local = k.update(k.empty(), items)
        assert (k.unpack(bytes(r["sketch"]))["registers"] == local["registers"]).all()


def test_empty_input(spark):
    df = spark.range(0).select(F.col("id").alias("item"))
    k = HllKernel(p=10, seed=0)
    state = agg.sketch(df, k)
    assert k.estimate(state)[0] == 0.0


def test_global_partials_one_row_per_partition(spark):
    # a global build emits one partial per stage-1 partition, whose count
    # tree_merge reads without an action, and rows counts every token
    toks = F.sequence(F.lit(1), F.col("id") % 13)
    dp = spark.sparkContext.defaultParallelism
    for parts in (1, 2 * dp):
        docs = spark.range(5_000, numPartitions=parts).select(toks.alias("tokens"))
        partials = agg.sketch_partials(docs, HllKernel(p=10, seed=1), "tokens")
        assert partials.columns == ["gid", "sketch", "rows"]
        assert partials.count() == partials._ceef_nparts == max(parts, dp)
        n_tok = docs.agg(F.sum(F.size("tokens"))).first()[0]
        assert partials.agg(F.sum("rows")).first()[0] == n_tok
