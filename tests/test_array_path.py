import numpy as np
from pyspark.sql import functions as F

from cardinality_estimation_evaluation_framework_spark.operators import aggregate as agg
from cardinality_estimation_evaluation_framework_spark.sketches.hll import HllKernel
from cardinality_estimation_evaluation_framework_spark.sketches.kll import KllKernel


def _docs(spark, n_docs=5_000):
    toks = F.transform(
        F.sequence(F.lit(0), F.lit(19)),
        lambda i: F.pmod(F.xxhash64(F.col("id") * 131 + i), F.lit(2**31 - 1)).cast("int"),
    )
    return spark.range(n_docs, numPartitions=8).select(toks.alias("tokens"))


def test_array_path_matches_explode_path(spark):
    docs = _docs(spark)
    k = HllKernel(p=12, seed=3)
    via_explode = agg.sketch(agg.explode_tokens(docs), k)
    via_arrays = agg.sketch_tokens(docs, k)
    assert (via_explode["registers"] == via_arrays["registers"]).all()


def test_array_path_handles_nulls_and_empties(spark):
    df = spark.createDataFrame(
        [([1, 2, 3],), (None,), ([],), ([4],)],
        "tokens array<int>",
    )
    k = HllKernel(p=10, seed=1)
    st = agg.sketch_tokens(df, k)
    exact = k.update(k.empty(), np.array([1, 2, 3, 4], dtype=np.int64))
    assert (st["registers"] == exact["registers"]).all()


def test_kll_array_column_matches_flattened_scalar_build(spark):
    # narrow explode keeps every partition's values in the same order, and
    # each partition fits one Arrow batch in both forms, so the two builds
    # feed the order-sensitive KLL compactor identical update calls
    nparts = 2 * spark.sparkContext.defaultParallelism
    vals = F.transform(
        F.sequence(F.lit(0), F.col("id") % 23),
        lambda i: (F.xxhash64(F.col("id") * 31 + i) % 100_000).cast("double") / 7.0,
    )
    arrays = spark.range(2_000, numPartitions=nparts).select(vals.alias("vals"))
    flat = arrays.select(F.explode("vals").alias("v"))
    k = KllKernel(k=50, seed=2)
    via_array = agg.sketch(arrays, k, "vals")
    via_scalar = agg.sketch(flat, k, "v")
    assert int(via_array["n"][0]) == flat.count()
    for key in via_scalar:
        assert np.array_equal(via_array[key], via_scalar[key]), key
    qs = np.linspace(0.0, 1.0, 21)
    assert np.array_equal(k.quantile(via_array, qs), k.quantile(via_scalar, qs))


def test_grouped_array_build_matches_exploded_grouped_build(spark):
    toks = F.transform(
        F.sequence(F.lit(0), F.col("id") % 9),
        lambda i: F.pmod(F.xxhash64(F.col("id") * 17 + i), F.lit(50_000)).cast("int"),
    )
    bulk = spark.range(6_000, numPartitions=4).select(
        F.when(F.col("id") % 4 == 0, None)
        .otherwise((F.col("id") % 4).cast("string"))
        .alias("source"),
        F.when(F.col("id") % 11 == 0, None)
        .when(F.col("id") % 11 == 1, F.array().cast("array<int>"))
        .otherwise(toks)
        .alias("tokens"),
    )
    # "hollow" has only NULL and empty cells: no item, so no sketch row,
    # exactly as in the exploded build
    edge = spark.createDataFrame(
        [("hollow", None), ("hollow", []), (None, None), (None, []), ("1", [7, 7, 8])],
        "source string, tokens array<int>",
    )
    docs = bulk.unionByName(edge)
    k = HllKernel(p=10, seed=5)
    via_arrays = agg.grouped_sketch(docs, k, ["source"], "tokens").collect()
    exploded = docs.select("source", F.explode("tokens").alias("item"))
    via_explode = agg.grouped_sketch(exploded, k, ["source"], "item").collect()
    got = {r["source"]: (r["rows"], k.unpack(bytes(r["sketch"]))) for r in via_arrays}
    want = {r["source"]: (r["rows"], k.unpack(bytes(r["sketch"]))) for r in via_explode}
    assert set(got) == set(want) == {None, "1", "2", "3"}
    n_tok = {r["source"]: r["count"] for r in exploded.groupBy("source").count().collect()}
    assert {key: rows for key, (rows, _) in got.items()} == n_tok
    for key, (rows, state) in want.items():
        assert got[key][0] == rows, key
        assert (got[key][1]["registers"] == state["registers"]).all(), key
