"""Scale-claim proofs: bucketed tables make recurring joins
shuffle-free (SCALE.md §2), and the ANN probe count is a working
recall dial (SCALE.md §6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from welearn_datastack_spark.sources.tables import load_table


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """The pipeline joins slices↔documents on document_id constantly;
    bucketing both sides by the key removes the shuffle from EVERY
    subsequent join — the 100 TB co-location strategy."""
    import shutil

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    # an in-memory catalog forgets tables between sessions but the
    # warehouse directories persist — clear them or CREATE fails
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable(
        "b_orders"
    )
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable(
        "b_lineitem"
    )
    # tiny test tables would auto-broadcast, hiding the bucketed path —
    # disable the threshold so the plan shows what 100 TB tables would do
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # co-located buckets: no exchange on either side of the join
        assert "Exchange hashpartitioning" not in plan, plan[:800]
        # and the join is still correct
        n = joined.count()
        plain = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
        assert n == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.mark.parametrize("k", [3])
def test_ann_probe_count_is_a_recall_dial(spark, sf_dir, k):
    """IVF nprobe sweep: recall@k vs exact brute force must not
    decrease as more lists are probed, reaching 1.0 when probing all."""
    from welearn_datastack_spark.operators.similarity import bucket_topk
    from welearn_datastack_spark.plans.q_ml import _CENTROID_IDS

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id").isin(*_CENTROID_IDS)).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce")
    )

    def as_probes(rows):
        return rows.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"))

    def nearest_lists(rows, n):
        """(q_id, cent_id) of each row's n nearest centroids."""
        return bucket_topk(as_probes(rows), cents, k=n).select(
            "q_id", F.col("c_id").alias("cent_id")
        )

    corpus_rows = emb.filter(F.col("vec_id") >= 10)
    lists = (
        nearest_lists(corpus_rows, 1)
        .withColumnRenamed("q_id", "c_id")
        .join(
            corpus_rows.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce")),
            on="c_id",
        )
    )
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["q_id"], r["c_id"])
        for r in bucket_topk(as_probes(queries), lists, k=k).collect()
    }

    def recall(nprobe: int) -> float:
        probes = nearest_lists(queries, nprobe).join(as_probes(queries), on="q_id")
        got = {
            (r["q_id"], r["c_id"])
            for r in bucket_topk(probes, lists, k=k, on=("cent_id",)).collect()
        }
        return len(got & exact) / len(exact)

    r1, r4, r_all = recall(1), recall(4), recall(len(_CENTROID_IDS))
    assert r1 <= r4 <= r_all, (r1, r4, r_all)
    assert r_all == 1.0  # probing every list IS brute force


def test_aqe_splits_skewed_join(spark):
    """SCALE.md §2: AQE skew-join splitting handles hot keys. Local
    data is tiny, so the skew thresholds are lowered to force the
    mechanism to engage — the assertion is on the adaptive plan."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # one hot key carrying ~all rows on the left
        left = spark.range(0, 60000).select(
            F.when(F.col("id") % 100 < 99, 7).otherwise(F.col("id") % 50).alias("k"),
            F.concat(F.lit("payload-payload-payload-"), F.col("id")).alias("v"),
        )
        right = spark.range(0, 50).select(F.col("id").alias("k"), F.lit("dim").alias("d"))
        joined = left.join(right, on="k")
        # collect() executes THIS DataFrame's own QueryExecution —
        # count()/write() would spawn derived executions whose adaptive
        # result we couldn't inspect afterwards
        n = len(joined.collect())
        assert n > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skewed=" in plan or "AQEShuffleRead" in plan, plan[:1200]
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)


def test_incremental_lsh_candidates(spark, sf_dir):
    """New-batch-vs-corpus dedup probing: every (new, existing) LSH
    pair the full recompute finds must also be found incrementally."""
    from pyspark.sql import functions as F

    from welearn_datastack_spark.operators.dedup import (
        incremental_lsh_candidates,
        lsh_band_keys,
        lsh_candidates,
        minhash_signatures,
        word_shingles,
    )
    from welearn_datastack_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    old_docs = docs.filter(F.col("doc_id") < 400)
    new_docs = docs.filter(F.col("doc_id") >= 400)

    def bands(d):
        sh = word_shingles(d, "doc_id", "text", n=3)
        return lsh_band_keys(minhash_signatures(sh, "doc_id", 8), "doc_id", 2)

    incr = {
        (r["new_id"], r["existing_id"])
        for r in incremental_lsh_candidates(bands(old_docs), bands(new_docs), "doc_id").collect()
    }
    # reference: full recompute over everything, restricted to cross pairs
    full = {
        (max(r["a_id"], r["b_id"]), min(r["a_id"], r["b_id"]))
        for r in lsh_candidates(bands(docs), "doc_id").collect()
        if (r["a_id"] < 400) != (r["b_id"] < 400)
    }
    assert {(n, e) for n, e in incr} == full


def test_sq8_quantization_recall(spark, sf_dir):
    """SQ8 is an approximation of the exact scorer, not a different
    metric: 256 levels on 64-dim vectors should keep top-5 recall
    high, and a finer grid must never do worse than coarse."""
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

    _load_groups()
    exact = REGISTRY["cosine_topk"].build(spark, sf_dir).collect()
    sq8 = REGISTRY["sq8_ann_topk"].build(spark, sf_dir).collect()
    want = {}
    for r in exact:
        want.setdefault(r["q_id"], set()).add(r["c_id"])
    got = {}
    for r in sq8:
        got.setdefault(r["q_id"], set()).add(r["c_id"])
    recalls = [len(want[q] & got.get(q, set())) / len(want[q]) for q in want]
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_ann_method_recall_error_bounds(spark, sf_dir):
    """The 3-row per-method recall report must stay consistent with
    its inputs: every recall in [0,1] over all 10 queries; SQ8 (a
    precision approximation of the SAME scorer) near-perfect; and the
    lsh row must equal the mean of ann_recall_report's per-query
    recalls (the two reports describe one measurement)."""
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

    _load_groups()
    rows = {r["method"]: r for r in REGISTRY["ann_method_recall"].build(spark, sf_dir).collect()}
    assert set(rows) == {"lsh", "ivf", "sq8"}
    for m, r in rows.items():
        assert r["n_queries"] == 10, m
        assert 0.0 <= r["mean_recall_at_3"] <= 1.0, m
    # quantization to 256 levels barely perturbs 64-dim cosines
    assert rows["sq8"]["mean_recall_at_3"] >= 0.9
    per_q = REGISTRY["ann_recall_report"].build(spark, sf_dir).collect()
    lsh_mean = sum(r["n_overlap"] for r in per_q) / (3.0 * len(per_q))
    assert abs(rows["lsh"]["mean_recall_at_3"] - lsh_mean) < 1e-3
