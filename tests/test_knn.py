"""Exact top-k search semantics: ordering contract, tombstone masking,
user pruning, pre-filter — against tiny hand-computed fixtures and the
driver's seeded embeddings table."""

import pytest
from pyspark.sql import functions as F

from muopdb_spark.operators.knn import knn, knn_batch


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (1, 0, [0.0, 0.0]),
        (2, 0, [1.0, 0.0]),
        (3, 0, [0.0, 2.0]),
        (4, 1, [0.1, 0.0]),   # other user
        (5, 0, [1.0, 0.0]),   # tie with doc 2 -> doc_id breaks tie
        (6, 0, [10.0, 10.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, user_id long, embedding array<float>").cache()


def test_knn_ordering_and_ties(vecs):
    out = knn(vecs, [0.0, 0.0], 4, user_ids=[0], id_col="vec_id").collect()
    assert [r["vec_id"] for r in out] == [1, 2, 5, 3]  # tie 2 vs 5 -> lower id first
    assert out[0]["score"] == pytest.approx(0.0)
    assert out[1]["score"] == pytest.approx(1.0)


def test_knn_user_pruning(vecs):
    out = knn(vecs, [0.0, 0.0], 10, user_ids=[1], id_col="vec_id").collect()
    assert [r["vec_id"] for r in out] == [4]


def test_knn_tombstones(vecs, spark):
    tomb = spark.createDataFrame([(1,), (2,)], "vec_id long")
    out = knn(vecs, [0.0, 0.0], 3, user_ids=[0], id_col="vec_id", tombstones=tomb).collect()
    assert [r["vec_id"] for r in out] == [5, 3, 6]


def test_knn_pre_filter(vecs):
    out = knn(vecs, [0.0, 0.0], 10, id_col="vec_id",
              pre_filter=F.col("vec_id") > 2).collect()
    assert [r["vec_id"] for r in out] == [4, 5, 3, 6]


def test_knn_dot_metric(vecs):
    # dot: lower (more negative) = closer; [10,10] wins against query [1,1]
    out = knn(vecs, [1.0, 1.0], 1, user_ids=[0], id_col="vec_id", metric="dot").collect()
    assert out[0]["vec_id"] == 6
    assert out[0]["score"] == pytest.approx(-20.0)


def test_knn_on_fixture_matches_numpy(spark, sf_dir):
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = emb.collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    q = mat[ids.tolist().index(0)]
    d = np.sqrt(((mat - q) ** 2).sum(axis=1))
    order = np.lexsort((ids, d))[:10]
    expected = ids[order].tolist()

    got = knn(emb, q.tolist(), 10, id_col="vec_id").collect()
    assert [r["vec_id"] for r in got] == expected
    np.testing.assert_allclose([r["score"] for r in got], d[order], rtol=1e-9)


def test_knn_batch(vecs, spark):
    queries = spark.createDataFrame(
        [(100, [0.0, 0.0]), (200, [10.0, 10.0])],
        "query_id long, query_vector array<float>",
    )
    out = knn_batch(vecs.filter("user_id = 0"), queries, 2, id_col="vec_id")
    got = {(r["query_id"], r["vec_id"]) for r in out.collect()}
    assert got == {(100, 1), (100, 2), (200, 6), (200, 3)}


def test_knn_property_matches_numpy(spark):
    """Property-style: random corpora + queries, Spark knn must equal the
    numpy lexsort oracle (ordering contract included)."""
    import numpy as np

    rng = np.random.default_rng(123)
    for trial in range(3):
        n, dim, k = int(rng.integers(5, 40)), int(rng.integers(2, 6)), int(rng.integers(1, 8))
        mat = rng.normal(0, 1, (n, dim))
        # inject ties: duplicate a few rows
        if n > 4:
            mat[1] = mat[0]
            mat[3] = mat[2]
        ids = np.arange(n)
        df = spark.createDataFrame(
            [(int(i), [float(x) for x in mat[i]]) for i in ids],
            "vec_id long, embedding array<float>",
        )
        q = rng.normal(0, 1, dim)
        d = np.sqrt(((mat.astype(np.float64) - q) ** 2).sum(axis=1))
        expected = ids[np.lexsort((ids, d))][:k].tolist()
        from muopdb_spark.operators.knn import knn

        got = [r["vec_id"] for r in knn(df, q.tolist(), k, id_col="vec_id").collect()]
        # scores computed from float32-stored vectors: compare id sets via
        # recomputing with float32 quantization
        d32 = np.sqrt(((mat.astype(np.float32).astype(np.float64) - q) ** 2).sum(axis=1))
        expected32 = ids[np.lexsort((ids, d32))][:k].tolist()
        assert got == expected32, f"trial {trial}"


def test_knn_round_trips_do_not_grow(spark, round_trips):
    """The query vector and the user list are each one SQL text: a
    768-dim query or a 50-user list builds with as many driver->JVM
    calls as a 32-dim query for one user."""
    def df(dim):
        return spark.createDataFrame(
            [(i, i % 50, [float(i)] * dim) for i in range(100)],
            "vec_id long, user_id long, embedding array<float>")

    small, large = df(32), df(768)

    def calls(data, dim, users):
        def build():
            return knn(data, [0.5] * dim, 10, id_col="vec_id", user_ids=users)

        build()  # first-use lookups on the gateway are not per-request cost
        return round_trips(build)

    base = calls(small, 32, [0])
    assert base <= 100
    assert calls(large, 768, [0]) == base
    assert calls(small, 32, list(range(50))) == base


@pytest.mark.parametrize("metric", ["l2", "dot", "cosine"])
def test_knn_query_literal_bit_exact(spark, metric):
    """Scores are bit-equal to the Column-built query literal (F.lit of
    the list and the score_expr lambdas), including -0.0, subnormal,
    1e308, NaN and infinite query components."""
    from muopdb_spark.functions.distance import score_expr

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(
        [[1.0, -2.0, 0.5], [1e-30, -0.0, 2.0], [3.4e38, 1.0, -1.0], [0.1, 0.2, 0.3]])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for q in ([-0.0, 5e-324, 1e308], [1.0 / 3.0, 2.2250738585072014e-308, -7.5],
              [float("nan"), 1.0, 2.0], [float("inf"), 1.0, -1.0], [1.0, float("-inf"), 0.0]):
        old = score_expr(metric, F.col("embedding"), F.lit(q).cast("array<double>"))
        want = [(r["vec_id"], r["score"].hex()) for r in df.select("vec_id", old.alias("score"))
                .orderBy(F.col("score").asc_nulls_last(), "vec_id").collect()]
        got = [(r["vec_id"], r["score"].hex())
               for r in knn(df, q, 4, id_col="vec_id", metric=metric).collect()]
        assert got == want, q
