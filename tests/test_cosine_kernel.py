"""The exact cosine top-k block kernel against the fold it replaced.

``similarity.cosine_topk`` scores |Q| x |block| pairs in numpy inside one
``mapInArrow``.  Every case here is checked in-test against the fold form:
``similarity.cosine`` over the broadcast cross join, then the same
(cosine desc, neighbor_id asc) ``row_number() <= k`` window.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from staticql_spark.operators import similarity
from staticql_spark.operators.classify import knn_classify, label_noise_report
from tests.conftest import SF_SMOKE

SCHEMA = "vec_id long, embedding array<double>, label int"


def fold_topk(queries, corpus, k):
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(similarity.cosine("qv", "cv"), 6).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def rows(df):
    # repr keeps NaN comparable and None distinct from any number
    return sorted(repr(tuple(r)) for r in df.collect())


def frame(spark, data):
    return spark.createDataFrame(data, SCHEMA)


BASE = [
    (1, [1.0, 0.0, 0.0], 0),
    (2, [0.9, 0.1, 0.0], 0),
    (3, [0.0, 1.0, 0.0], 1),
    (4, [0.5, 0.5, 0.5], 1),
    (5, [-1.0, 0.2, 0.0], 2),
    (6, [0.1, 0.2, 0.9], 2),
]

CASES = {
    "one_row": [(1, [1.0, 2.0], 0)],
    "two_rows": [(1, [1.0, 2.0], 0), (2, [2.0, 1.0], 1)],
    "base": BASE,
    "null_vector": BASE + [(7, None, 0)],
    "null_element": BASE + [(7, [1.0, None, 0.0], 0)],
    "mixed_dims": BASE + [(7, [1.0, 0.0], 0), (8, [0.3, 0.7], 1), (9, [], 1)],
    "duplicate_ids": BASE + [(2, [0.0, 0.0, 1.0], 1), (4, [0.2, 0.9, 0.1], 0)],
    "null_id": BASE + [(None, [1.0, 0.0, 0.0], 0)],
    "nan_element": BASE + [(7, [float("nan"), 1.0, 0.0], 0)],
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_kernel_equals_fold(spark, case):
    df = frame(spark, CASES[case])
    odd = df.filter(F.col("vec_id") % 2 == 1)
    for queries, k in ((df, 1), (df, 3), (odd, 2)):
        want = rows(fold_topk(queries, df, k))
        assert rows(similarity.cosine_topk(queries, df, k=k)) == want


def test_empty_sides(spark):
    df = frame(spark, BASE)
    empty = df.filter(F.lit(False))
    for q, c in ((empty, df), (df, empty), (empty, empty)):
        assert similarity.cosine_topk(q, c, k=3).collect() == []
        assert fold_topk(q, c, 3).collect() == []


def test_k_larger_than_corpus_keeps_every_row(spark):
    df = frame(spark, BASE)
    got = similarity.cosine_topk(df, df, k=50).collect()
    assert len(got) == len(BASE) * (len(BASE) - 1)
    assert rows(similarity.cosine_topk(df, df, k=50)) == rows(fold_topk(df, df, 50))


def test_zero_vector_divides_like_the_fold(spark):
    # a zero norm makes den 0: Spark's own division decides, so the kernel
    # fails under ANSI (DIVIDE_BY_ZERO) and nulls without it, as the fold does
    df = frame(spark, BASE + [(7, [0.0, 0.0, 0.0], 0)])
    for form in (similarity.cosine_topk, lambda q, c, k: fold_topk(q, c, k)):
        with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
            form(df, df, 3).collect()
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        for k in (1, 3, 100):
            assert rows(similarity.cosine_topk(df, df, k=k)) == rows(fold_topk(df, df, k))
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_rounded_tie_across_blocks_is_decided_by_id(spark):
    # every corpus row rounds (6 places) to cosine 1.0 against the query,
    # and the raw cosine rises with the id: the lowest ids win the tie but
    # have the lowest raw scores in their own blocks, so only the rounding
    # margin keeps them, and the blocks' survivors meet in the final rank
    n = spark.sparkContext.defaultParallelism
    corpus = [(j, [1.0, (60 - j) * 5e-6, 0.0], 0) for j in range(1, 41)]
    df = frame(spark, [(0, [1.0, 0.0, 0.0], 0)] + corpus)
    blocks = {
        r["vec_id"]: r["b"]
        for r in df.select(
            "vec_id", F.pmod(F.hash("vec_id"), F.lit(n)).alias("b")
        ).collect()
    }
    if n > 1:
        assert len({blocks[j] for j in (1, 2, 3)}) > 1, blocks
    queries = df.filter(F.col("vec_id") == 0)
    for k in (1, 2, 3, 7):
        got = sorted(similarity.cosine_topk(queries, df, k=k).collect(), key=lambda r: r["rank"])
        assert [r["neighbor_id"] for r in got] == list(range(1, k + 1))
        assert {r["cosine"] for r in got} == {1.0}
        assert sorted(repr(tuple(r)) for r in got) == rows(fold_topk(queries, df, k))


@pytest.mark.parametrize("case", ["null_vector", "mixed_dims", "duplicate_ids"])
def test_knn_and_label_noise_equal_fold_neighbors(spark, case):
    df = frame(spark, CASES[case])
    queries = df.filter(F.col("vec_id") % 2 == 1)
    assert rows(knn_classify(queries, df, k=3)) == rows(
        knn_classify(queries, df, k=3, neighbors=fold_topk(queries, df, 3))
    )
    assert rows(label_noise_report(df, k=3)) == rows(
        label_noise_report(df, k=3, neighbors=fold_topk(df, df, 3))
    )


def test_kernel_raw_cosine_is_bit_identical_to_the_fold(spark):
    # The kernel accumulates column by column, acc = acc + q[:, i] * c[:, i]
    # from 0.0: the fold's order with a separate IEEE multiply and add, so
    # each raw cosine equals similarity.cosine bit for bit.  A matmul (BLAS
    # q @ c.T, einsum) blocks, reorders or fuses the sum and differed from
    # the fold on 13% of the sf0.1 pairs; it must never score this kernel.
    path = f"{SF_SMOKE}/embeddings.parquet"
    emb = spark.read.parquet(path)
    e = emb.select("vec_id", similarity.as_double(F.col("embedding")).alias("v"))
    want = {
        (r["a"], r["b"]): r["cos"]
        for r in e.select(F.col("vec_id").alias("a"), F.col("v").alias("av"))
        .crossJoin(e.select(F.col("vec_id").alias("b"), F.col("v").alias("bv")))
        .filter(F.col("a") != F.col("b"))
        .select("a", "b", similarity.cosine("av", "bv").alias("cos"))
        .collect()
    }
    t = pq.read_table(path)
    side = pa.StructArray.from_arrays(
        [t["vec_id"].combine_chunks(), t["embedding"].combine_chunks().cast(pa.list_(pa.float64()))],
        names=["id", "v"],
    )
    got = similarity._block_candidates(side, side, k=len(side))
    qid = got.column("query_id").to_numpy()
    cid = got.column("neighbor_id").to_numpy()
    raw = got.column("dot").to_numpy() / got.column("den").to_numpy()
    assert len(raw) == len(want) == len(side) * (len(side) - 1)
    expect = np.array([want[(a, b)] for a, b in zip(qid.tolist(), cid.tolist())])
    assert np.array_equal(raw.view(np.int64), expect.view(np.int64))
