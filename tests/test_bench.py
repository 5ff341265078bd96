"""bench.py, the headline benchmark: its box-speed calibration, cache
hygiene between queries (guard persists, catalog cache, orphaned
checkpoints), storage accounting, rev stamping (None outside a git
checkout) and data-dir parsing, and the compact final line it prints."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from welearn_datastack_spark.operators.dedup import (
    _GUARD_PERSISTS,
    pair_volume_guard,
    release_guard_caches,
)

REPO = Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def bench():
    # imported on first use: bench.py turns the Spark UI on for sessions
    # built after its import, and the test session is built before it
    import bench

    return bench


def test_bench_calibration_measures_both_legs(spark):
    import bench

    rec = bench._calibration(spark, rows=2_000_000)
    assert rec["cpu_sec"] > 0 and rec["spark_sec"] > 0
    # the constant workload is small — single-digit seconds even on a
    # loaded box; a blow-up here means the calib query itself regressed
    assert rec["spark_sec"] < 30


def test_post_query_hygiene_clears_guard_persists(spark, bench):
    """The pin for 'cache-clean state between bench families': a query
    that left a persist_on_probe cache behind is detected (nonzero
    storage record) and the session is returned to a clean block
    manager + empty guard registry before the next query runs."""
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


def test_post_query_hygiene_clears_lazy_cache_entries(spark, bench):
    """A persist registered but never materialized leaves rdds==0 in
    the storage sample — hygiene must clear the CacheManager anyway,
    or the entry materializes inside a later query's wall."""
    bench.post_query_hygiene(spark)  # start from a clean session
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    df.persist()  # lazy: no action, no blocks materialized
    try:
        cm = spark._jsparkSession.sharedState().cacheManager()
        assert not cm.isEmpty()
        rec = bench.post_query_hygiene(spark)
        # the lazy entry contributed no blocks to the storage sample…
        assert rec is None or rec["rdds"] == 0
        # …and was cleared anyway
        assert cm.isEmpty()
    finally:
        df.unpersist()


def test_storage_info_counts_plain_catalog_cache(spark, bench):
    spark.catalog.clearCache()
    df = spark.range(1000).withColumn("v", F.col("id") * 2).cache()
    df.count()
    rec = bench._storage_info(spark)
    assert rec["rdds"] >= 1 and rec["mem_bytes"] + rec["disk_bytes"] > 0
    bench.post_query_hygiene(spark)
    assert bench._storage_info(spark)["rdds"] == 0


def test_git_rev_dirty_is_scoped_to_measured_code(bench):
    """-dirty must fingerprint the STAMP SCOPE (package + bench.py),
    not the whole tree — bench.py writes tracked artifacts
    (bench_runs/*), and a whole-tree --dirty would mark every stamp
    after the first as matching no commit."""
    import subprocess

    rev = bench._git_rev()
    in_checkout = subprocess.run(
        ["git", "rev-parse", "--is-inside-work-tree"],
        cwd=REPO, capture_output=True, text=True,
    ).returncode == 0
    if not in_checkout:
        # an exported tree (git archive) has no rev: the documented
        # fallback is None, never a made-up stamp
        assert rev is None
        return
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


def test_parse_sf_dir_full_path_fallback(bench):
    # basename carries the sf
    assert bench._parse_sf_dir("/root/testdata/sf0.1") == (0.1, None)
    assert bench._parse_sf_dir("/tmp/welearn_sf1_zipf50k") == (1.0, "zipf50k")
    # basename does not: fall back to the full-path scan
    assert bench._parse_sf_dir("/data/sf1/corpus") == (1.0, None)
    assert bench._parse_sf_dir("/x/sf0.1-v2") == (0.1, None)
    assert bench._parse_sf_dir("/nothing/here") == (None, None)


SUMMARY_KEYS = {
    "metric", "value", "unit", "sf", "n_queries", "runs", "stat",
    "median_total_sec", "cold_total_sec", "errors_n", "guard_exits_n",
    "shuffle_read_mb", "shuffle_write_mb", "loadavg_1m", "calib_sec", "artifact",
}


def test_bench_final_line_contract(sf_dir, tmp_path):
    """bench.py end to end on a two-query subset: the last stdout line
    is the compact summary (under 500 chars, the same keys as ever),
    the artifact lands where SPARK_GRAFT_BENCH_ARTIFACT points, and no
    bench_runs/ file is added, removed or changed."""
    import hashlib
    import json
    import os
    import subprocess
    import sys

    def runs_digest():
        # path and content digest of every file under bench_runs/:
        # works in a checkout and in an exported tree alike
        root = REPO / "bench_runs"
        return {
            str(p.relative_to(root)): hashlib.md5(p.read_bytes()).hexdigest()
            for p in sorted(root.rglob("*")) if p.is_file()
        }

    before = runs_digest()
    artifact = tmp_path / "bench.json"
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_BENCH_QUERIES="tpch_q6_forecast_revenue,latest_event",
        SPARK_GRAFT_BENCH_RUNS="2",
        SPARK_GRAFT_BENCH_ARTIFACT=str(artifact),
    )
    proc = subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    last = proc.stdout.strip().splitlines()[-1]
    assert len(last) < 500, last
    summary = json.loads(last)
    assert set(summary) == SUMMARY_KEYS
    assert summary["metric"] == "headline_queries_total"
    assert summary["n_queries"] == 2
    assert summary["errors_n"] == 0
    # calibration always runs, before and after the timing loop
    assert isinstance(summary["calib_sec"], float) and summary["calib_sec"] > 0
    assert artifact.exists()
    detail = json.loads(artifact.read_text())
    assert detail["queries"].keys() == {"tpch_q6_forecast_revenue", "latest_event"}
    assert {"pre", "post"} <= detail["calibration"].keys()
    assert "quiet_gate" not in detail
    assert runs_digest() == before
