"""Round-13 pins: the volume-guard doctrine generalized to every
pair-materializing diagnostic (jaccard_pairs quadratic model,
semantic-dedup chunk-split model), the shared _volume_guard scaffold's
persist-on-probe semantics, and the two adjudicator verdict branches
(bytes-grew / no-byte-evidence) that round 12 left to real-data
happenstance."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from welearn_datastack_spark.operators.dedup import (
    PairVolumeExceeded,
    jaccard_pairs,
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


# --- jaccard_pairs guard (round-13 item 1: the last unguarded
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
    # make this assertion vacuous (round-13 review finding)
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


# --- adjudicator verdict matrix completion (round-13 item 4):
# bytes-grew and no-byte-evidence never fired on real data; this
# fixture pins both WITHOUT any isolated re-run (they are decided
# before the re-run pass, so the test is subprocess-cheap). ----------


def test_adjudicator_bytes_grew_and_no_byte_evidence_branches(tmp_path):
    import json
    import subprocess
    import sys

    a = {
        "queries_median": {"q_bytes": 1.0, "q_noev": 1.0, "q_ok": 1.0},
        "queries_shuffle": {
            "q_bytes": {"shuffle_write_bytes": 1_000_000},
            # q_noev: A side lacks byte accounting entirely
            "q_ok": {"shuffle_write_bytes": 1_000_000},
        },
    }
    b = {
        "queries_median": {"q_bytes": 10.0, "q_noev": 10.0, "q_ok": 2.0},
        "queries_shuffle": {
            # 10x bytes for 3x data: byte ratio 10 > 3.0 * 1.35
            "q_bytes": {"shuffle_write_bytes": 10_000_000},
            "q_noev": {"shuffle_write_bytes": 10_000_000},
            "q_ok": {"shuffle_write_bytes": 3_000_000},
        },
        "sf_dir": "/root/testdata/sf0.001",
    }
    a_path, b_path = tmp_path / "a.json", tmp_path / "b.json"
    a_path.write_text(json.dumps(a))
    b_path.write_text(json.dumps(b))
    proc = subprocess.run(
        [
            sys.executable, str(REPO / "tools" / "audit_scaling.py"),
            str(a_path), str(b_path), "3.0", "--adjudicate",
        ],
        cwd=REPO, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stdout[-1500:] + proc.stderr[-1500:]
    adj = json.loads(b_path.read_text())["adjudication"]
    assert adj["q_bytes"]["verdict"] == "bytes-grew"
    assert adj["q_bytes"]["byte_ratio"] == 10.0
    assert adj["q_noev"]["verdict"] == "no-byte-evidence"
    # q_ok is 2x for 3x data — not flagged, no verdict entry
    assert "q_ok" not in adj


# --- bench.py quiet-box gate (round-13 item 2) -----------------------


def test_bench_quiet_gate_waits_records_and_overrides(monkeypatch):
    import bench

    monkeypatch.setenv("SPARK_GRAFT_BENCH_QUIET_LOADAVG", "4")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_QUIET_WAIT", "600")
    monkeypatch.delenv("SPARK_GRAFT_BENCH_QUIET", raising=False)

    # busy box that quiets down after two polls → gate waits, records
    loads = iter([9.0, 7.0, 1.5])
    slept = []
    rec = bench._quiet_gate(
        full_run=True,
        getloadavg=lambda: (next(loads), 0, 0),
        sleep=lambda s: slept.append(s),
    )
    assert rec["enabled"] and len(slept) == 2
    assert rec["loadavg_at_invoke"] == 9.0 and rec["loadavg_at_start"] == 1.5
    assert not rec["overridden"]

    # box never quiets within the budget → proceed, LABELED overridden
    monkeypatch.setenv("SPARK_GRAFT_BENCH_QUIET_WAIT", "0")
    rec = bench._quiet_gate(
        full_run=True, getloadavg=lambda: (9.0, 0, 0), sleep=lambda s: None
    )
    assert rec["overridden"] and rec["loadavg_at_start"] == 9.0

    # already quiet → no wait at all
    rec = bench._quiet_gate(
        full_run=True,
        getloadavg=lambda: (0.5, 0, 0),
        sleep=lambda s: (_ for _ in ()).throw(AssertionError("slept")),
    )
    assert rec["waited_sec"] == 0.0 and not rec["overridden"]

    # subset runs skip the gate (adjudication re-runs must not stall
    # behind the marathon they adjudicate) unless QUIET=1 forces it
    rec = bench._quiet_gate(
        full_run=False,
        getloadavg=lambda: (9.0, 0, 0),
        sleep=lambda s: (_ for _ in ()).throw(AssertionError("slept")),
    )
    assert not rec["enabled"]
    monkeypatch.setenv("SPARK_GRAFT_BENCH_QUIET", "1")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_QUIET_WAIT", "0")
    rec = bench._quiet_gate(
        full_run=False, getloadavg=lambda: (9.0, 0, 0), sleep=lambda s: None
    )
    assert rec["enabled"] and rec["overridden"]
    # and QUIET=0 disables even full runs
    monkeypatch.setenv("SPARK_GRAFT_BENCH_QUIET", "0")
    rec = bench._quiet_gate(
        full_run=True, getloadavg=lambda: (9.0, 0, 0), sleep=lambda s: None
    )
    assert not rec["enabled"]
