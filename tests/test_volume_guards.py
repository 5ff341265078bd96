"""Pre-flight volume guards of the pair-materializing operators: the
pair guard's fail, sample and pass branches, its probe-skip fast path
and mode/budget resolution; the guarded minhash, simhash, jaccard and
semantic-dedup paths; adaptive chunking from the probe's max-bucket
certificate; guard-mode pins for oracle parity; a probe on every
build (no verdict outlives its build); and persist-on-probe caching
with its bulk release."""

from __future__ import annotations

import math
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from welearn_datastack_spark.operators.dedup import (
    PairVolumeExceeded,
    hexint,
    jaccard_pairs,
    pair_volume_guard,
    release_guard_caches,
    replicated_volume_guard,
    word_shingles,
)

REPO = Path(__file__).resolve().parent.parent


def _docs(spark, n=24, text="alpha beta gamma delta epsilon zeta"):
    """n documents sharing every trigram shingle — one mega bucket per
    shingle, ΣC(c,2) = n_shingles · C(n,2)."""
    return spark.createDataFrame(
        [(i, text) for i in range(n)], ["doc_id", "text"]
    )


def _mega_bucket(spark, n=100):
    """n members of ONE (band, band_key) bucket → C(n,2) pairs."""
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("band"),
        F.lit("k").alias("band_key"),
    )


def _chunk_split_markers(plan: str) -> bool:
    """The chunk-split plan is identifiable by its chunk-pair
    repartition columns (ci, cj) — absent from the direct join."""
    return "ci#" in plan and "cj#" in plan


# --- pair-guard branches ---------------------------------------------


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


def test_pair_guard_budget_measures_spark_local_dirs(spark, monkeypatch, tmp_path):
    """With no explicit or conf budget, the guard measures the volume
    Spark spills to: SPARK_LOCAL_DIRS wins over spark.local.dir, as in
    Spark's own local-dir resolution."""
    import shutil
    from collections import namedtuple

    from welearn_datastack_spark.operators import dedup

    spill = tmp_path / "spill"
    spill.mkdir()
    monkeypatch.setenv("SPARK_LOCAL_DIRS", f"{spill},{tmp_path / 'second'}")
    seen = []
    usage = namedtuple("usage", "total used free")

    def fake_disk_usage(path):
        seen.append(str(path))
        return usage(100 << 30, 0, 100 << 30)

    monkeypatch.setattr(shutil, "disk_usage", fake_disk_usage)
    assert dedup._pair_guard_budget(spark, None) == 50 << 30
    assert seen == [str(spill)]


# --- guarded registry queries and operators ---------------------------


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
    sample branch at the oracle-gate SFs (600 B budget < 152-197 probe
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


# --- jaccard_pairs guard (the last unguarded
# quadratic — its pair stream IS shuffled by the pair-count groupBy, so
# the quadratic Σ C(c,2) model applies) ------------------------------


def test_jaccard_guard_fail_branch(spark):
    sh = word_shingles(_docs(spark), "doc_id", "text", n=3)
    spark.conf.set("spark.welearn.pairGuard.budget", "100")
    try:
        # the guard probes at BUILD time (eager, documented in
        # _volume_guard) — the verdict arrives before any sink runs
        with pytest.raises(PairVolumeExceeded) as ei:
            jaccard_pairs(sh, "doc_id", threshold=0.0)
        # 4 shingle buckets x C(24,2) = 1104 pairs, measured exactly
        assert ei.value.projected_pairs == 4 * 276
        assert "Σ C(bucket,2)" in str(ei.value)
    finally:
        spark.conf.unset("spark.welearn.pairGuard.budget")


def test_jaccard_guard_sample_branch_bounds_and_subsets(spark):
    sh = word_shingles(_docs(spark), "doc_id", "text", n=3)
    full = {
        (r["a_id"], r["b_id"])
        for r in jaccard_pairs(sh, "doc_id", threshold=0.0).collect()
    }
    spark.conf.set("spark.welearn.pairGuard.mode", "sample")
    spark.conf.set("spark.welearn.pairGuard.budget", "2k")
    try:
        sampled = {
            (r["a_id"], r["b_id"])
            for r in jaccard_pairs(sh, "doc_id", threshold=0.0).collect()
        }
    finally:
        spark.conf.unset("spark.welearn.pairGuard.mode")
        spark.conf.unset("spark.welearn.pairGuard.budget")
    assert sampled and sampled < full  # engaged, never invents a pair
    # member sampling keeps whole documents: jaccard values of kept
    # pairs are the full run's (sizes computed per doc, not per sample)
    full_j = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in jaccard_pairs(sh, "doc_id", threshold=0.0).collect()
    }
    assert all(full_j[p] == 1.0 for p in sampled)


def test_jaccard_passthrough_and_chunk_invariance(spark):
    """Under budget the guard is a no-op (same pairs as mode 'off'),
    and the chunk sub-split never changes the pair set — the rewrite
    off the collect_list idiom is output-invariant."""
    docs = spark.createDataFrame(
        [(i, f"w{i % 5} common tail tokens here {i % 3}") for i in range(30)],
        ["doc_id", "text"],
    )
    sh = word_shingles(docs, "doc_id", "text", n=2)

    def pairs(**kw):
        return sorted(
            (r["a_id"], r["b_id"], r["jaccard"])
            for r in jaccard_pairs(sh, "doc_id", threshold=0.05, **kw).collect()
        )

    base = pairs(guard_mode="off")
    assert base
    assert pairs() == base
    assert pairs(chunk_target=2) == base  # forced multi-chunk splits
    assert all(a < b for a, b, _ in base)


def test_semantic_dedup_guard_engages_on_tiny_budget(spark, sf_dir):
    """semantic_dedup_flags now pre-flights its within-cluster chunk
    join with the replicated-volume model: a sub-worst-case budget
    forces the probe and the fail verdict; the default budget leaves
    the gated output untouched (oracle-verified separately)."""
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

    _load_groups()
    spark.conf.set("spark.welearn.pairGuard.budget", "10")
    try:
        with pytest.raises(PairVolumeExceeded) as ei:
            REGISTRY["semantic_dedup_flags"].build(spark, sf_dir).write.format(
                "noop"
            ).mode("overwrite").save()
        assert "replicated chunk-join input rows" in str(ei.value)
    finally:
        spark.conf.unset("spark.welearn.pairGuard.budget")


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


# --- every build measures ------------------------------------------


def test_guarded_rebuild_reruns_probe_job(spark, tmp_path):
    """No verdict outlives its build: building the same guarded plan a
    second time in one session, over unchanged files, runs the probe's
    aggregation job again — as many jobs as the first build ran."""
    p = str(tmp_path / "docs.parquet")
    pq.write_table(pa.table({"doc_id": list(range(20)), "bk": ["x"] * 20}), p)
    sc = spark.sparkContext

    def build_jobs(group):
        df = spark.read.parquet(p)  # schema inference outside the group
        sc.setJobGroup(group, "guarded build")
        try:
            pair_volume_guard(df, ["bk"], "doc_id", budget_bytes=1 << 30)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    first = build_jobs("guard-rebuild-1")
    assert first >= 1  # no worst-case hint: the probe runs
    assert build_jobs("guard-rebuild-2") == first

def test_rewritten_input_gets_fresh_guard_verdict(spark, tmp_path):
    """End-to-end: a corpus rewritten AT THE SAME PATH within one
    application gets the big corpus's verdict — reusing the small
    corpus's verdict would under-gate it. Every build probes, so the
    second build measures the rewritten files."""
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


# --- persist-on-probe caches ----------------------------------------


def test_persist_on_probe_caches_and_fail_branch_releases(spark):
    df = spark.range(50).select(
        F.col("id").alias("doc_id"), F.lit(0).alias("b"), F.lit("k").alias("bk")
    )
    # passthrough: probe ran (no worst-case hint), frame left persisted
    out = replicated_volume_guard(
        df, ["b", "bk"], "doc_id", budget_bytes=1 << 30, persist_on_probe=True
    )
    assert out.storageLevel.useMemory
    out.unpersist()
    # fail: the persist must be RELEASED before the raise (a guarded
    # query that declines to run must not leak executor storage)
    with pytest.raises(PairVolumeExceeded):
        replicated_volume_guard(
            df, ["b", "bk"], "doc_id", budget_bytes=10,
            chunk_target=128, persist_on_probe=True,
        )
    assert not df.storageLevel.useMemory and not df.storageLevel.useDisk
    # and a later guarded run is unaffected by the released cache
    out2 = replicated_volume_guard(
        df, ["b", "bk"], "doc_id", budget_bytes=1 << 30, persist_on_probe=True
    )
    assert out2.count() == 50
    out2.unpersist()


def test_guard_caches_bulk_release(spark):
    release_guard_caches()
    df = spark.range(40).select(
        F.col("id").alias("doc_id"), F.lit(0).alias("b"), F.lit("k").alias("bk")
    )
    out = replicated_volume_guard(
        df, ["b", "bk"], "doc_id", budget_bytes=1 << 30, persist_on_probe=True
    )
    assert release_guard_caches() >= 1
    assert not out.storageLevel.useMemory and not out.storageLevel.useDisk


def test_rebuild_repersists_idempotently(spark):
    """A caller that unpersisted after its sink must still get
    probe/run sharing on LATER builds — every build persists the frame
    before its probe, whatever an earlier build's cache became."""
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
    assert out2.storageLevel.useMemory  # persisted again
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


def test_gen_sf_regen_releases_live_guard_caches(spark):
    from welearn_datastack_spark.operators import dedup

    sys.path.insert(0, str(REPO / "tools"))
    try:
        import gen_sf
    finally:
        sys.path.pop(0)

    # start from an empty block manager: pins other tests left behind
    # (localCheckpoint frames, not guard caches) would count below
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist()
    df = spark.range(50).selectExpr("id")
    df.persist().count()
    dedup._GUARD_PERSISTS["__t__"] = df
    try:
        gen_sf._release_session_caches()
        assert "__t__" not in dedup._GUARD_PERSISTS
        assert len(spark.sparkContext._jsc.sc().getRDDStorageInfo()) == 0
    finally:
        dedup._GUARD_PERSISTS.pop("__t__", None)
        df.unpersist()
