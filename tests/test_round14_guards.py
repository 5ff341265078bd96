"""Adaptive chunking for the jaccard family (the probe's max-bucket
certificate picks the un-split pair join), guard-mode pinning for
oracle parity, probe-memo staleness and cap, the guard-cache
accounting/release surface, and the memoized-pass re-persist."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from welearn_datastack_spark.operators.dedup import (
    _PROBE_MEMO,
    _PROBE_MEMO_CAP,
    PairVolumeExceeded,
    _input_snapshot,
    clear_probe_memo,
    guard_cache_info,
    jaccard_pairs,
    pair_volume_guard,
    release_guard_caches,
    replicated_volume_guard,
    word_shingles,
)


def _chunk_split_markers(plan: str) -> bool:
    """The chunk-split plan is identifiable by its chunk-pair
    repartition columns (ci, cj) — absent from the direct join."""
    return "ci#" in plan and "cj#" in plan


# --- adaptive chunking ----------------------------------------------


def test_jaccard_adaptive_takes_direct_plan_when_buckets_small(spark):
    """30 docs, every shingle bucket well under chunk_target → the
    probe's max-bucket certificate selects bucket_pairs' un-split
    join (no chunk-split scaffolding in the plan), while a chunk_target BELOW
    the max bucket re-engages the sub-split — with identical pairs."""
    docs = spark.createDataFrame(
        [(i, f"w{i % 5} common tail tokens here {i % 3}") for i in range(30)],
        ["doc_id", "text"],
    )
    sh = word_shingles(docs, "doc_id", "text", n=2)

    direct = jaccard_pairs(sh, "doc_id", threshold=0.05)
    dplan = direct._jdf.queryExecution().executedPlan().toString()
    assert not _chunk_split_markers(dplan), dplan[:1200]

    # max bucket here is > 2, so chunk_target=2 must chunk-split
    split = jaccard_pairs(sh, "doc_id", threshold=0.05, chunk_target=2)
    splan = split._jdf.queryExecution().executedPlan().toString()
    assert _chunk_split_markers(splan)

    # unguarded calls have no certificate → always the safe sub-split
    unguarded = jaccard_pairs(sh, "doc_id", threshold=0.05, guard_mode="off")
    uplan = unguarded._jdf.queryExecution().executedPlan().toString()
    assert _chunk_split_markers(uplan)

    key = lambda df: sorted(  # noqa: E731
        (r["a_id"], r["b_id"], r["jaccard"]) for r in df.collect()
    )
    assert key(direct) == key(split) == key(unguarded)


def test_jaccard_sample_branch_never_takes_direct_plan(spark):
    """The max-bucket certificate describes the PRE-sample frame, so
    the sample branch must fall back to the chunk-split."""
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(24)],
        ["doc_id", "text"],
    )
    sh = word_shingles(docs, "doc_id", "text", n=3)
    spark.conf.set("spark.welearn.pairGuard.mode", "sample")
    spark.conf.set("spark.welearn.pairGuard.budget", "2k")
    try:
        out = jaccard_pairs(sh, "doc_id", threshold=0.0)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert _chunk_split_markers(plan)
    finally:
        spark.conf.unset("spark.welearn.pairGuard.mode")
        spark.conf.unset("spark.welearn.pairGuard.budget")


# --- guard-mode pinning ---------------------------------------------


def test_guard_mode_pin_overrides_session_sample_conf(spark):
    """A registered non-sampled query's oracle does not model member
    sampling — guard_mode='fail' must raise even when the session conf
    asks for sample mode globally."""
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(24)],
        ["doc_id", "text"],
    )
    sh = word_shingles(docs, "doc_id", "text", n=3)
    spark.conf.set("spark.welearn.pairGuard.mode", "sample")
    spark.conf.set("spark.welearn.pairGuard.budget", "100")
    try:
        with pytest.raises(PairVolumeExceeded) as ei:
            jaccard_pairs(sh, "doc_id", threshold=0.0, guard_mode="fail")
        assert "oracle" in str(ei.value)  # the parity note ships in the msg
    finally:
        spark.conf.unset("spark.welearn.pairGuard.mode")
        spark.conf.unset("spark.welearn.pairGuard.budget")


# --- probe-memo staleness + cap -------------------------------------


def test_input_snapshot_changes_on_in_place_rewrite(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"doc_id": [1, 2], "b": [0, 0]}), p)
    snap1 = _input_snapshot(spark.read.parquet(p))
    # same file NAME, different content/size → the snapshot must move
    pq.write_table(pa.table({"doc_id": list(range(50)), "b": [0] * 50}), p)
    snap2 = _input_snapshot(spark.read.parquet(p))
    assert snap1 != snap2


def test_rewritten_input_gets_fresh_guard_verdict(spark, tmp_path):
    """End-to-end: a corpus rewritten AT THE SAME PATH within one
    application must re-probe — reusing the small corpus's memoized
    verdict would under-gate the big one (the staleness hazard the
    snapshot key closes)."""
    p = str(tmp_path / "docs.parquet")
    pq.write_table(pa.table({"doc_id": [1, 2], "bk": ["x", "y"]}), p)
    budget = 24 * 10  # fits the 2-row corpus (≤1 pair), not the big one
    out = pair_volume_guard(
        spark.read.parquet(p), ["bk"], "doc_id", budget_bytes=budget
    )
    assert out.count() == 2
    pq.write_table(
        pa.table({"doc_id": list(range(200)), "bk": ["x"] * 200}), p
    )
    with pytest.raises(PairVolumeExceeded):
        pair_volume_guard(
            spark.read.parquet(p), ["bk"], "doc_id", budget_bytes=budget
        )


def test_probe_memo_is_capped(spark, monkeypatch):
    import welearn_datastack_spark.operators.dedup as dedup_mod

    assert _PROBE_MEMO_CAP >= 64  # the real cap is generous
    monkeypatch.setattr(dedup_mod, "_PROBE_MEMO_CAP", 8)  # read at call time
    clear_probe_memo()
    df = spark.createDataFrame([(1, "a")], ["doc_id", "bk"])
    for i in range(12):
        pair_volume_guard(
            df.withColumn("c", F.lit(i)), ["bk"], "doc_id", budget_bytes=1 << 30
        )
    assert len(_PROBE_MEMO) <= 8
    assert clear_probe_memo() > 0 and len(_PROBE_MEMO) == 0


# --- guard-cache accounting -----------------------------------------


def test_guard_cache_info_and_bulk_release(spark):
    release_guard_caches()
    df = spark.range(40).select(
        F.col("id").alias("doc_id"), F.lit(0).alias("b"), F.lit("k").alias("bk")
    )
    out = replicated_volume_guard(
        df, ["b", "bk"], "doc_id", budget_bytes=1 << 30, persist_on_probe=True
    )
    info = guard_cache_info()
    assert any(e["is_cached"] for e in info)
    assert release_guard_caches() >= 1
    assert not out.storageLevel.useMemory and not out.storageLevel.useDisk
    assert guard_cache_info() == []


def test_memo_hit_repersists_idempotently(spark):
    """A caller that unpersisted after its sink must still
    get probe/run sharing on LATER builds — the memoized pass re-marks
    the frame persisted instead of silently skipping the cache."""
    release_guard_caches()
    df = spark.range(30).select(
        F.col("id").alias("doc_id"), F.lit(1).alias("b"), F.lit("m").alias("bk")
    )
    out1 = replicated_volume_guard(
        df, ["b", "bk"], "doc_id", budget_bytes=1 << 30, persist_on_probe=True
    )
    assert out1.storageLevel.useMemory
    out1.unpersist()  # the docstring's 'after their sink' advice
    out2 = replicated_volume_guard(
        df, ["b", "bk"], "doc_id", budget_bytes=1 << 30, persist_on_probe=True
    )
    assert out2.storageLevel.useMemory  # memo hit, but persisted again
    release_guard_caches()


def test_sampled_cache_feeds_sibling_plan(spark, sf_dir):
    """Pin of the claimed sibling-query cache hit: after
    minhash_lsh_candidates_sampled's persist_on_probe
    caches the shared band frame, the hashed sibling's physical plan
    reads through the InMemoryRelation; releasing the guard caches
    restores the cold plan within the tight exchange budget."""
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

    _load_groups()
    release_guard_caches()
    REGISTRY["minhash_lsh_candidates_sampled"].build(spark, sf_dir).count()
    warm = (
        REGISTRY["minhash_lsh_candidates_hashed"]
        .build(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "InMemoryTableScan" in warm
    release_guard_caches()
    cold = (
        REGISTRY["minhash_lsh_candidates_hashed"]
        .build(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "InMemoryTableScan" not in cold
    assert cold.count("Exchange hashpartitioning") <= 7


# --- registered-query wiring pins: the mode='fail' pin lives in the
# QUERY registrations (q_dedup/q_ml), not just the operator — these
# drive the registry builds under a hostile session conf. -------------


def test_registered_minhash_queries_ignore_session_sample_conf(spark, sf_dir):
    """minhash_lsh_candidates(_hashed) gate against the FULL candidate
    set — under a global sample conf and an impossible budget they must
    refuse (pinned mode='fail'), never silently emit a subset."""
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

    _load_groups()
    spark.conf.set("spark.welearn.pairGuard.mode", "sample")
    spark.conf.set("spark.welearn.pairGuard.budget", "10")
    try:
        for name in ("minhash_lsh_candidates", "minhash_lsh_candidates_hashed"):
            with pytest.raises(PairVolumeExceeded):
                REGISTRY[name].build(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
    finally:
        spark.conf.unset("spark.welearn.pairGuard.mode")
        spark.conf.unset("spark.welearn.pairGuard.budget")


def test_registered_semantic_dedup_ignores_session_sample_conf(spark, sf_dir):
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

    _load_groups()
    spark.conf.set("spark.welearn.pairGuard.mode", "sample")
    spark.conf.set("spark.welearn.pairGuard.budget", "10")
    try:
        with pytest.raises(PairVolumeExceeded):
            REGISTRY["semantic_dedup_flags"].build(spark, sf_dir).write.format(
                "noop"
            ).mode("overwrite").save()
    finally:
        spark.conf.unset("spark.welearn.pairGuard.mode")
        spark.conf.unset("spark.welearn.pairGuard.budget")


def test_sampled_variant_still_samples_under_its_own_mode(spark, sf_dir):
    """The sanctioned sample path (minhash_lsh_candidates_sampled pins
    mode='sample' itself) keeps working regardless of session conf —
    the fail pins above must not have leaked into it."""
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

    _load_groups()
    spark.conf.set("spark.welearn.pairGuard.mode", "fail")  # hostile the other way
    try:
        n = REGISTRY["minhash_lsh_candidates_sampled"].build(spark, sf_dir).count()
        assert n >= 0  # built and ran; its 600 B budget guarantees sampling engaged
    finally:
        spark.conf.unset("spark.welearn.pairGuard.mode")


# --- un-split vs chunk-split pair-join equivalence, property-tested --


def test_direct_and_chunked_self_pairs_equivalent_property(spark):
    """For ANY bucket assignment and payload, bucket_pairs' un-split
    join (a max_bucket certificate that fits the chunk target) and its
    chunk split (no certificate, at several chunk targets, including 1
    — every member its own chunk) must emit the identical unordered
    pair set with identically aligned payloads. Deterministic
    pseudo-random fixtures spanning the shapes that matter: singleton
    buckets, one mega bucket, many mid buckets."""
    import random as _r

    from welearn_datastack_spark.operators.dedup import bucket_pairs

    rng = _r.Random(1407)
    for trial in range(3):
        n = [40, 25, 60][trial]
        n_buckets = [1, 12, 5][trial]  # mega / sparse / mid
        rows = [
            (i, rng.randrange(n_buckets), f"p{i % 7}") for i in range(n)
        ]
        df = spark.createDataFrame(rows, ["id", "bk", "pl"])

        def canon(out):
            return sorted(
                (r["bk"], r["a_id"], r["b_id"], r["a_pl"], r["b_pl"])
                for r in out.collect()
            )

        base = canon(bucket_pairs(df, ["bk"], "id", ["pl"], max_bucket=n))
        assert base and all(a < b for _, a, b, _, _ in base)
        for ct in (1, 3, 256):
            got = canon(bucket_pairs(df, ["bk"], "id", ["pl"], chunk_target=ct))
            assert got == base, f"trial {trial}, chunk_target {ct}"
