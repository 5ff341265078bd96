"""Round-15 pins: bench cache hygiene between queries (r14 verdict
item 1 — per-query storage accounting + guard/catalog cache release so
no query's lingering persists perturb later walls), snapshot-failure
memo disabling (r14 ADVICE #4), round_close adjudication-survivor
filtering and dirty-stamp staleness (r14 ADVICE #1/#2), and the
corpus-tagged canonical naming that promotes zipf-50k to a first-class
comparator (r14 verdict item 6)."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import welearn_datastack_spark.operators.dedup as dedup_mod
from welearn_datastack_spark.operators.dedup import (
    _GUARD_PERSISTS,
    _PROBE_MEMO,
    _input_snapshot,
    clear_probe_memo,
    pair_volume_guard,
    release_guard_caches,
)

REPO = Path(__file__).resolve().parent.parent


def _load_module(name: str, path: Path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def bench():
    return _load_module("bench_r15", REPO / "bench.py")


@pytest.fixture(scope="module")
def round_close():
    return _load_module("round_close_r15", REPO / "tools" / "round_close.py")


# --- snapshot failure disables memoization (r14 ADVICE #4) -----------


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


# --- bench cache hygiene (r14 verdict item 1) -------------------------


def test_post_query_hygiene_clears_guard_persists(spark, bench):
    """The pin for 'cache-clean state between bench families': a query
    that left a persist_on_probe cache behind is detected (nonzero
    storage record) and the session is returned to a clean block
    manager + empty guard registry before the next query runs."""
    clear_probe_memo()
    release_guard_caches()
    spark.catalog.clearCache()
    df = spark.createDataFrame([(i, "a") for i in range(50)], ["doc_id", "bk"])
    guarded = pair_volume_guard(
        df, ["bk"], "doc_id", budget_bytes=1 << 30, persist_on_probe=True
    )
    guarded.count()  # materialize the persist (what a bench sink does)
    assert len(_GUARD_PERSISTS) == 1
    rec = bench.post_query_hygiene(spark)
    assert rec is not None and rec["rdds"] >= 1
    assert rec["mem_bytes"] + rec["disk_bytes"] > 0
    # post-state: clean JVM for the next query
    assert len(_GUARD_PERSISTS) == 0
    after = bench._storage_info(spark)
    assert after is not None and after["rdds"] == 0
    # idempotent: a clean session records clean and clears nothing
    rec2 = bench.post_query_hygiene(spark)
    assert rec2 is not None and rec2["rdds"] == 0


def test_post_query_hygiene_drops_orphaned_checkpoints(spark, bench):
    """localCheckpoint RDDs (BPE vocab rounds, BFS frontiers) are not
    CacheManager entries — catalog.clearCache() leaves them in the
    block manager. Hygiene must drop those too, or every later
    query's storage record inherits them."""
    spark.catalog.clearCache()
    bench.post_query_hygiene(spark)
    df = spark.range(100000).withColumn("v", F.col("id") * 3).localCheckpoint(
        eager=True
    )
    assert df.count() == 100000
    rec = bench._storage_info(spark)
    assert rec["rdds"] >= 1
    bench.post_query_hygiene(spark)
    assert bench._storage_info(spark)["rdds"] == 0


def test_storage_info_counts_plain_catalog_cache(spark, bench):
    spark.catalog.clearCache()
    df = spark.range(1000).withColumn("v", F.col("id") * 2).cache()
    df.count()
    rec = bench._storage_info(spark)
    assert rec["rdds"] >= 1 and rec["mem_bytes"] + rec["disk_bytes"] > 0
    bench.post_query_hygiene(spark)
    assert bench._storage_info(spark)["rdds"] == 0


# --- corpus-tagged canonical naming (r14 verdict item 6) --------------


def test_git_rev_dirty_is_scoped_to_measured_code(bench):
    """-dirty must fingerprint the STAMP SCOPE (package + bench.py),
    not the whole tree — the close protocol modifies tracked
    artifacts (PLANS.md, bench_runs/*) while stamps run, and a
    whole-tree --dirty would mark every close-produced stamp stale."""
    import subprocess

    rev = bench._git_rev()
    assert rev
    scope = subprocess.run(
        ["git", "status", "--porcelain", "--",
         "welearn_datastack_spark/", "bench.py"],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert rev.endswith("-dirty") == bool(scope)


def test_parse_sf_dir_tags(bench):
    assert bench._parse_sf_dir("/root/testdata/sf0.1") == (0.1, None)
    assert bench._parse_sf_dir("/tmp/welearn_sf0.1_zipf50k") == (0.1, "zipf50k")
    assert bench._parse_sf_dir("/tmp/welearn_sf1_zipf50k/") == (1.0, "zipf50k")
    assert bench._parse_sf_dir("/tmp/welearn_sf100") == (100.0, None)
    assert bench._parse_sf_dir("/tmp/welearn_sf10_realvocab") == (10.0, "realvocab")
    assert bench._parse_sf_dir("/root/testdata/sf0.001") == (0.001, None)
    assert bench._parse_sf_dir("/no/scale/here") == (None, None)


def test_gen_sf_regen_invalidates_probe_memo(spark):
    """r14 verdict item 5: the corpora-regen tool calls the memo hook,
    so an in-session in-place rewrite cannot stale-hit a verdict."""
    gen = _load_module("gen_sf_r15", REPO / "tools" / "gen_sf.py")
    clear_probe_memo()
    df = spark.createDataFrame([(1, "a")], ["doc_id", "bk"])
    pair_volume_guard(df, ["bk"], "doc_id", budget_bytes=1 << 30)
    assert len(_PROBE_MEMO) == 1
    gen._invalidate_guard_memos()
    assert len(_PROBE_MEMO) == 0


# --- plan pins for the round's new queries ----------------------------


def _plan(spark, sf_dir, name):
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

    _load_groups()
    df = REGISTRY[name].build(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_ivf_grouped_topk_plan_is_bucketed(spark, sf_dir):
    """The grouped serve path must be the bucketed IVF join, not a
    crossJoin against the corpus (the whole point vs grouped_vector_
    search): candidates from a broadcast EQUI-join on cent_id, no
    nested-loop/cartesian anywhere, no Python in the plan."""
    plan = _plan(spark, sf_dir, "ivf_grouped_topk")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_bpe_encode_corpus_plan_stays_jvm(spark, sf_dir):
    plan = _plan(spark, sf_dir, "bpe_encode_corpus")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


# --- real image-header decode (r14 verdict item 3) ---------------------


def _valid_png(w: int, h: int) -> bytes:
    import struct
    import zlib

    data = b"IHDR" + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + data
        + struct.pack(">I", zlib.crc32(data))
        + b"\x00\x00\x00\x00IEND\xaeB`\x82"
    )


def _valid_jpeg(w: int, h: int) -> bytes:
    import struct

    return (
        b"\xff\xd8"
        + b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
        + b"\xff\xc0\x00\x11\x08"
        + struct.pack(">HH", h, w)
        + b"\x03\x01\x11\x00\x02\x11\x01\x03\x11\x01"
        + b"\xff\xd9"
    )


def test_parse_image_header_png_jpeg():
    from welearn_datastack_spark.operators.multimodal import parse_image_header

    assert parse_image_header(_valid_png(640, 480)) == (640, 480, "png")
    assert parse_image_header(_valid_jpeg(123, 77)) == (123, 77, "jpeg")
    # progressive JPEG: SOF2 instead of SOF0
    prog = _valid_jpeg(50, 60).replace(b"\xff\xc0", b"\xff\xc2")
    assert parse_image_header(prog) == (50, 60, "jpeg")
    # corrupt: truncated PNG sig, garbage, empty, None, zero dims
    assert parse_image_header(b"\x89PNG\r\n\x1a\n\x00\x00") == (None, None, None)
    assert parse_image_header(b"\xde\xad\xbe\xef") == (None, None, None)
    assert parse_image_header(b"") == (None, None, None)
    assert parse_image_header(None) == (None, None, None)
    assert parse_image_header(_valid_png(0, 10)) == (None, None, None)
    # JPEG with EOI before any SOF (no frame header)
    assert parse_image_header(b"\xff\xd8\xff\xd9") == (None, None, None)
    # DHT (C4) must be walked over, not mistaken for a SOF
    dht_first = (
        b"\xff\xd8" + b"\xff\xc4\x00\x04\x00\x00" + _valid_jpeg(9, 8)[2:]
    )
    assert parse_image_header(dht_first) == (9, 8, "jpeg")


def test_synth_payloads_roundtrip_through_parser(spark):
    """The JVM-side synthesizers and the Python parser agree — the
    same invariant the multimodal_decode oracle gates, pinned here
    against hand-built reference bytes too."""
    from welearn_datastack_spark.operators.multimodal import (
        parse_image_header,
        synth_jpeg,
        synth_png,
    )

    df = spark.createDataFrame([(640, 480), (16, 527)], ["w", "h"])
    rows = df.select(
        synth_png(F.col("w"), F.col("h")).alias("png"),
        synth_jpeg(F.col("w"), F.col("h")).alias("jpg"),
        "w",
        "h",
    ).collect()
    for r in rows:
        assert bytes(r["png"]) == _valid_png(r["w"], r["h"])
        assert bytes(r["jpg"]) == _valid_jpeg(r["w"], r["h"])
        assert parse_image_header(bytes(r["png"])) == (r["w"], r["h"], "png")
        assert parse_image_header(bytes(r["jpg"])) == (r["w"], r["h"], "jpeg")


# --- round_close adjudication + staleness (r14 ADVICE #1/#2) ----------


def test_control_survivors_filters_acquitted(round_close):
    adj = {
        "a": {"verdict": "session-state", "ratio": 1.4},
        "b": {"verdict": "persists-isolated", "ratio": 1.3},
        "c": {"verdict": "persists-isolated"},
        "d": "not-a-dict",
    }
    assert round_close._control_survivors(adj) == ["b", "c"]
    assert round_close._control_survivors({}) == []


def test_stamp_staleness_flags_dirty_rev(round_close, tmp_path):
    import json

    p = tmp_path / "latest_sf9.9.json"
    p.write_text(json.dumps({"git_rev": "abc1234-dirty"}))
    reason = round_close.stamp_staleness(p)
    assert reason is not None and "dirty" in reason
    assert round_close.stamp_staleness(tmp_path / "missing.json") == "no artifact"
    p.write_text(json.dumps({}))
    assert "no rev" in round_close.stamp_staleness(p)


def test_memo_count_invalidates_on_rewrite(spark, tmp_path):
    """r15 opt: the sizing-count memo must key on input content — a
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
