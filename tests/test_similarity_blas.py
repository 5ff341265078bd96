"""BLAS (numpy-matmul) ANN variant vs the JVM aggregate kernel.

The two paths must produce the same top-k sets and scores up to float
summation order (numpy pairwise vs JVM sequential fold) — a tolerance
equivalence, not an exact hash: a cosine exactly on the 6-digit
rounding boundary may round differently between the two.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from welearn_datastack_spark.session import get_spark

    return get_spark("test-blas")


def test_blas_topk_matches_jvm_kernel(spark):
    from welearn_datastack_spark.plans.q_ml import _split
    from welearn_datastack_spark.operators.similarity import blas_topk, bucket_topk

    queries, corpus = _split(spark, SF_DIR)
    corpus = corpus.select("c_id", "ce")
    jvm = {
        (r["q_id"], r["c_id"]): r["cosine"]
        for r in bucket_topk(queries, corpus, k=5).collect()
    }
    blas = {
        (r["q_id"], r["c_id"]): r["cosine"]
        for r in blas_topk(queries, corpus, k=5).collect()
    }
    assert len(jvm) == len(blas)
    # same pairs selected (ties broken identically by c_id) ...
    assert set(jvm) == set(blas)
    # ... and scores equal to within the rounding tolerance
    for key, v in jvm.items():
        assert blas[key] == pytest.approx(v, abs=2e-6), key


def test_blas_topk_per_query_counts(spark):
    from welearn_datastack_spark.plans.q_ml import _split
    from welearn_datastack_spark.operators.similarity import blas_topk

    queries, corpus = _split(spark, SF_DIR)
    out = blas_topk(queries, corpus.select("c_id", "ce"), k=5).collect()
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append(r["rnk"])
    assert len(by_q) == queries.count()
    for q, rnks in by_q.items():
        assert sorted(rnks) == [1, 2, 3, 4, 5], q


def test_blas_topk_empty_queries_returns_empty(spark):
    """0 query rows (or all-null embeddings) must yield an empty
    frame, not a numpy shape error on the (0,) query matrix — with the
    scored path's schema (q_id, c_id, cosine, rnk), rnk included."""
    from welearn_datastack_spark.operators.similarity import blas_topk

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "c_id long, ce array<double>"
    )
    scored = blas_topk(
        spark.createDataFrame([(7, [1.0, 0.0])], "q_id long, qe array<double>"),
        corpus, k=3,
    )
    assert scored.count() == 2
    empty = spark.createDataFrame([], "q_id long, qe array<double>")
    out = blas_topk(empty, corpus, k=3)
    assert out.count() == 0
    assert out.schema == scored.schema
    all_null = spark.createDataFrame(
        [(7, None)], "q_id long, qe array<double>"
    )
    out = blas_topk(all_null, corpus, k=3)
    assert out.count() == 0
    assert out.schema == scored.schema


def test_blas_topk_zero_norm_and_null_vectors(spark):
    """Zero-norm corpus vectors score NULL (never NaN — NaN sorts
    ABOVE numbers in Spark's desc, which would corrupt the top-k) and
    rank behind every real score; null corpus vectors are skipped."""
    import math

    from welearn_datastack_spark.operators.similarity import blas_topk

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, None), (4, [0.5, 0.5])],
        "c_id long, ce array<double>",
    )
    queries = spark.createDataFrame(
        [(10, [1.0, 0.0])], "q_id long, qe array<double>"
    )
    rows = blas_topk(queries, corpus, k=3).orderBy("rnk").collect()
    got = [(r["c_id"], r["cosine"]) for r in rows]
    # real scores first (1.0 then ~0.707), zero-norm vector last as NULL
    assert [c for c, _ in got] == [1, 4, 2]
    assert got[0][1] == 1.0
    assert got[1][1] == pytest.approx(math.sqrt(0.5), abs=1e-6)
    assert got[2][1] is None
