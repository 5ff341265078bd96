"""Pair-volume guard pins: the pre-flight disk-budget guard's fail,
sample and pass branches, its probe-skip fast path and mode/budget
resolution, the guarded minhash and simhash queries, and the stream
probe's broadcast-to-exchange plan transition."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from welearn_datastack_spark.operators.dedup import (
    PairVolumeExceeded,
    hexint,
    pair_volume_guard,
)


def _mega_bucket(spark, n=100):
    """n members of ONE (band, band_key) bucket → C(n,2) pairs."""
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("band"),
        F.lit("k").alias("band_key"),
    )


def test_pair_guard_passthrough_under_budget(spark):
    """Projected volume within budget → the input comes back unchanged
    (same rows, no sampling filter)."""
    df = _mega_bucket(spark, n=10)  # 45 pairs * 12 B well under 1 MB
    out = pair_volume_guard(
        df, ["band", "band_key"], "doc_id", budget_bytes=1 << 20, mode="fail"
    )
    assert out.count() == 10


def test_pair_guard_fail_branch_measured_projection(spark):
    """Over budget in fail mode → PairVolumeExceeded BEFORE any pair
    row is built, carrying the exact Σ C(c,2) projection."""
    df = _mega_bucket(spark, n=100)  # C(100,2) = 4950 pairs
    with pytest.raises(PairVolumeExceeded) as ei:
        pair_volume_guard(
            df, ["band", "band_key"], "doc_id",
            bytes_per_pair=12, budget_bytes=1000, mode="fail",
        )
    e = ei.value
    assert e.projected_pairs == 4950
    assert e.projected_bytes == 4950 * 12
    assert e.budget_bytes == 1000
    # the message IS the verdict the bench artifact records — it must
    # carry the numbers and the remediation paths
    assert "4,950" in str(e)
    assert "sample" in str(e) and "decision-only" in str(e)


def test_pair_guard_sample_branch_bounds_mega_bucket(spark):
    """Over budget in sample mode → deterministic MEMBER sampling at
    1/ceil(sqrt(den)) — the one construction that bounds a single
    mega-bucket (bucket-level sampling could not)."""
    df = _mega_bucket(spark, n=100)
    budget = 1000
    out = pair_volume_guard(
        df, ["band", "band_key"], "doc_id",
        bytes_per_pair=12, budget_bytes=budget, mode="sample",
    )
    den = math.ceil(4950 * 12 / budget)  # 60
    keep = math.isqrt(den - 1) + 1  # ceil(sqrt(60)) = 8
    kept = sorted(r["doc_id"] for r in out.collect())
    # exactly the hexint(id) % keep == 0 members, nothing else
    expected = [
        r["doc_id"]
        for r in df.filter(
            hexint(F.col("doc_id").cast("string")) % keep == 0
        ).collect()
    ]
    assert kept == sorted(expected)
    assert 0 < len(kept) < 100
    # deterministic: same call → same sample
    out2 = pair_volume_guard(
        df, ["band", "band_key"], "doc_id",
        bytes_per_pair=12, budget_bytes=budget, mode="sample",
    )
    assert sorted(r["doc_id"] for r in out2.collect()) == kept


def test_pair_guard_worst_case_hint_skips_probe_entirely(spark):
    """When the caller's free upper bound already fits the budget, the
    guard must not launch ANY Spark job — pinned with a poisoned column
    whose evaluation would raise."""
    df = spark.range(4).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("band"),
        F.assert_true(F.lit(False)).alias("band_key"),  # evaluating = boom
    )
    out = pair_volume_guard(
        df, ["band", "band_key"], "doc_id",
        worst_case_pairs=6, bytes_per_pair=12, budget_bytes=1 << 20,
    )
    assert out is df  # structurally untouched, no job ran


def test_pair_guard_mode_off_and_conf_resolution(spark):
    """mode='off' skips everything; session conf supplies mode and a
    size-string budget when the call site passes neither."""
    df = _mega_bucket(spark, n=100)
    out = pair_volume_guard(
        df, ["band", "band_key"], "doc_id", budget_bytes=1, mode="off"
    )
    assert out is df
    spark.conf.set("spark.welearn.pairGuard.mode", "sample")
    spark.conf.set("spark.welearn.pairGuard.budget", "1k")  # 1024 B
    try:
        out = pair_volume_guard(
            df, ["band", "band_key"], "doc_id", bytes_per_pair=12
        )
        assert 0 < out.count() < 100  # sampled, not raised
    finally:
        spark.conf.unset("spark.welearn.pairGuard.mode")
        spark.conf.unset("spark.welearn.pairGuard.budget")
    with pytest.raises(ValueError, match="unknown mode"):
        pair_volume_guard(df, ["band", "band_key"], "doc_id", mode="explode")


# --- streaming-probe first-rung plan transition ---------------------
# SCALE.md §22.5 explains the stream probe's steep sf1→sf3 byte rung
# (5.05x for 3x data) as a broadcast→exchange plan transition: at sf1
# the stored state side fits under the broadcast threshold so the
# semi-join leg pays no shuffle; by sf3 it is a real exchange. This
# pins that mechanism: the SAME probe plan rides BroadcastHashJoin
# when the state side is under the threshold and a shuffle join once
# it is not — so a future change that made the probe super-linear
# could no longer hide behind the "plan transition" sentence.


def test_stream_probe_first_rung_is_broadcast_to_exchange_transition(spark, sf_dir):
    from welearn_datastack_spark.operators.dedup import (
        incremental_near_dup_ids,
        lsh_band_keys,
        minhash_signatures,
        word_shingles,
    )
    from welearn_datastack_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")

    def bands(d):
        return lsh_band_keys(
            minhash_signatures(word_shingles(d, "doc_id", "text", n=3), "doc_id", 8),
            "doc_id",
            rows_per_band=2,
        )

    stored = bands(docs.filter(F.col("doc_id") % 5 != 4))
    new = bands(docs.filter(F.col("doc_id") % 5 == 4))

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )

    def executed_plan(threshold):
        old = {k: spark.conf.get(k, None) for k in keys}
        try:
            for k in keys:
                spark.conf.set(k, threshold)
            d = incremental_near_dup_ids(stored, new, "doc_id")
            d.write.format("noop").mode("overwrite").save()
            return d._jdf.queryExecution().executedPlan().toString()
        finally:
            for k, v in old.items():
                spark.conf.set(k, v) if v is not None else spark.conf.unset(k)

    # sf1 regime: state side under the threshold → broadcast semi leg
    small = executed_plan("10485760b")
    assert "BroadcastHashJoin" in small and "LeftSemi" in small, small[:1500]
    # sf3+ regime: no broadcast eligibility → the semi leg is a real
    # exchange-backed join (the byte rung §22.5 measured)
    big = executed_plan("-1")
    assert "LeftSemi" in big, big[:1500]
    assert "BroadcastHashJoin" not in big, big[:1500]
    assert "SortMergeJoin" in big or "ShuffledHashJoin" in big, big[:1500]


def test_minhash_query_output_unchanged_by_guard(spark, sf_dir):
    """The guarded registry query emits the identical candidate set at
    gate SF (the worst-case hint skips the probe; the pair set is the
    oracle-hash-gated one either way)."""
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

    _load_groups()
    df = REGISTRY["minhash_lsh_candidates"].build(spark, sf_dir)
    rows = {(r["a_id"], r["b_id"]) for r in df.limit(10000).collect()}
    assert all(a < b for a, b in rows)


def test_midband_splice_params_decorrelated_from_sample(spark, monkeypatch, sf_dir):
    """Round-12 §23.2 regression pin: the midband query's partner
    bucket (hx % 16) and mix fraction (400 + 75·(hx % 5)) must come
    from a SALTED hash stream, decorrelated from the row-budget
    sample filter hexint(doc_id) % den == 0. Pre-fix, den = 10 forced
    hx % 5 == 0 on every sampled doc (5 | 10): all pairs were spliced
    at the minimum 400‰ fraction, so true Jaccard never reached
    bucket 4 — §22.1's sf1 table truncated at bucket 3 and the
    truncation was misattributed to the word-salad vocabulary. With
    the '#mb' salt, a den=10 run on sf0.01 deterministically yields
    pairs in buckets 4 and 5; removing the salt zeroes them again."""
    import welearn_datastack_spark.plans.q_dedup as qd

    monkeypatch.setattr(qd, "jaccard_sample_den", lambda n, budget=5000: 10)
    rows = (
        qd.lsh_recall_corpus_midband_q(spark, sf_dir.replace("sf0.001", "sf0.01"))
        .collect()
    )
    by_bucket = {r["j_bucket"]: r for r in rows}
    assert all(r["sample_den"] == 10 for r in rows)
    # the decorrelation signature: mid-high buckets are populated
    # even under a multiple-of-5 sampling denominator
    assert max(by_bucket) >= 4, f"splice fractions re-correlated: {sorted(by_bucket)}"
    # and the fraction spread exists: more than one bucket in 2-3 vs
    # 4+ (pre-fix shape was ALL mass at <= 3)
    assert sum(r["n_true"] for b, r in by_bucket.items() if b >= 4) >= 3


def test_sampled_candidates_query_engages_and_bounds(spark, sf_dir):
    """minhash_lsh_candidates_sampled must (a) actually engage the
    sample branch at the driver SFs (600 B budget < 152-197 probe
    pairs x 12 B), (b) emit a strict subset of the unguarded
    candidate set (member sampling never invents a pair), and (c)
    stay non-empty (keep = 2 retains ~1/2 of members -> ~1/4 of
    pairs)."""
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

    _load_groups()
    full = {
        (r["a_id"], r["b_id"])
        for r in REGISTRY["minhash_lsh_candidates"].build(spark, sf_dir).collect()
    }
    sampled = {
        (r["a_id"], r["b_id"])
        for r in REGISTRY["minhash_lsh_candidates_sampled"]
        .build(spark, sf_dir)
        .collect()
    }
    assert sampled, "sample branch emptied the candidate set"
    assert sampled < full, "sampling did not engage (output == full set)"


def test_simhash_near_pairs_guarded(spark):
    """The simhash banded self-join now runs through
    replicated_volume_guard — the chunk-split cost model (replicated
    join-input rows, NOT quadratic pairs: simhash pairs are generated
    in-task and never hit disk). fail branch: a sub-row budget raises
    with the measured replicated-row projection; no-trigger branch: a
    generous budget leaves the exact pair set untouched."""
    import pyspark.sql.functions as F

    from welearn_datastack_spark.operators.dedup import (
        PairVolumeExceeded,
        simhash,
        simhash_near_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc {i % 3}") for i in range(40)],
        ["doc_id", "text"],
    )
    fp = simhash(docs, "doc_id", "text", bits=16)
    spark.conf.set("spark.welearn.pairGuard.budget", "100")
    try:
        with pytest.raises(PairVolumeExceeded) as ei:
            simhash_near_pairs(fp, "doc_id").write.format("noop").mode(
                "overwrite"
            ).save()
        assert ei.value.projected_pairs > 0
    finally:
        spark.conf.unset("spark.welearn.pairGuard.budget")
    # generous budget (default: free disk / 2) -> unchanged output
    out = simhash_near_pairs(fp, "doc_id")
    assert out.filter(F.col("a_id") >= F.col("b_id")).count() == 0
    assert out.count() > 0
