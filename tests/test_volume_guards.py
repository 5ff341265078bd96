"""Pre-flight volume guards of the pair-materializing operators: the
jaccard and semantic-dedup guards, the probe memo and its input
snapshot, and persist-on-probe caching. The pair-guard branches live in
test_round12_guards.py; adaptive chunking, mode pins and the guard
caches in test_round14_guards.py."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import welearn_datastack_spark.operators.dedup as dedup_mod
from welearn_datastack_spark.operators.dedup import (
    _PROBE_MEMO,
    PairVolumeExceeded,
    _input_snapshot,
    clear_probe_memo,
    jaccard_pairs,
    pair_volume_guard,
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


def test_input_snapshot_returns_none_on_listing_failure(spark):
    class Boom:
        def inputFiles(self):
            raise RuntimeError("listing unavailable")

    assert _input_snapshot(Boom()) is None


def test_memo_skipped_when_snapshot_fails(spark, monkeypatch):
    """A plan whose input listing fails must RE-PROBE every build —
    a plan-hash-only memo key could stale-hit after an unlistable
    source was rewritten in place (the under-gating hazard)."""
    clear_probe_memo()
    monkeypatch.setattr(dedup_mod, "_input_snapshot", lambda df: None)
    df = spark.createDataFrame([(1, "a"), (2, "a")], ["doc_id", "bk"])
    out = pair_volume_guard(df, ["bk"], "doc_id", budget_bytes=1 << 30)
    assert out.count() == 2
    assert len(_PROBE_MEMO) == 0  # nothing memoized under a None key


def _load_module(name: str, path: Path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


def test_gen_sf_regen_invalidates_probe_memo(spark):
    """The corpora-regen tool calls the memo hook,
    so an in-session in-place rewrite cannot stale-hit a verdict."""
    gen = _load_module("gen_sf_r15", REPO / "tools" / "gen_sf.py")
    clear_probe_memo()
    df = spark.createDataFrame([(1, "a")], ["doc_id", "bk"])
    pair_volume_guard(df, ["bk"], "doc_id", budget_bytes=1 << 30)
    assert len(_PROBE_MEMO) == 1
    gen._invalidate_guard_memos()
    assert len(_PROBE_MEMO) == 0


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
        gen_sf._invalidate_guard_memos()
        assert "__t__" not in dedup._GUARD_PERSISTS
        assert len(spark.sparkContext._jsc.sc().getRDDStorageInfo()) == 0
    finally:
        dedup._GUARD_PERSISTS.pop("__t__", None)
        df.unpersist()


def test_memo_count_invalidates_on_rewrite(spark, tmp_path):
    """The sizing-count memo must key on input content — a
    same-path in-place rewrite re-counts, a repeat build memo-hits,
    and clear_count_memo drops everything (the regen hook)."""
    from welearn_datastack_spark.sources.tables import (
        _COUNT_MEMO,
        clear_count_memo,
        memo_count,
    )

    p = str(tmp_path / "t.parquet")
    spark.range(7).write.mode("overwrite").parquet(p)
    clear_count_memo()
    assert memo_count(spark.read.parquet(p)) == 7
    n_keys = len(_COUNT_MEMO)
    assert n_keys == 1
    # repeat build of the same plan over unchanged files: memo hit
    assert memo_count(spark.read.parquet(p)) == 7
    assert len(_COUNT_MEMO) == n_keys
    # in-place rewrite: the snapshot (mtime/size/paths) changes, the
    # stale 7 must not be served
    import time

    time.sleep(0.05)  # mtime_ns granularity guard
    spark.range(11).write.mode("overwrite").parquet(p)
    assert memo_count(spark.read.parquet(p)) == 11
    assert clear_count_memo() >= 1 and not _COUNT_MEMO


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
    # query that declines to run must not leak executor storage).
    # chunk_target differs from the call above so the probe_key is
    # distinct — a _PROBE_MEMO hit would skip the persist entirely and
    # make this assertion vacuous
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
