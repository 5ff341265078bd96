#!/usr/bin/env python
"""Headline benchmark. Runs representative queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS].

Output contract (round 8 — the driver captures only the LAST ~2000
stdout chars, so rounds 3/6/7 recorded parsed:null when the full
per-query map overflowed it): the FINAL stdout line is a COMPACT
summary JSON (totals + artifact path, < 500 chars); the full
per-query detail — min/median/spread times, shuffle read/write
bytes, task counts, errors — is written to the artifact file under
bench_runs/.

Each query is forced end-to-end with a noop sink (full
materialization, no driver collect). SPARK_GRAFT_BENCH_QUERIES runs a
comma-separated subset, SPARK_GRAFT_BENCH_RUNS sets the pass count
(default 5) and SPARK_GRAFT_BENCH_ARTIFACT redirects the artifact.
"""

from __future__ import annotations

import json
import os
import random
import re
import statistics
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

# the bench session reads per-query shuffle bytes from the status REST
# API — flip the UI on BEFORE the session is built (no-op if the env
# already pinned it)
os.environ.setdefault("SPARK_GRAFT_UI", "true")

from welearn_datastack_spark.operators.dedup import PairVolumeExceeded
from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups
from welearn_datastack_spark.session import get_spark

HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q4_order_priority",
    "tpch_q5_region_revenue",
    "tpch_q13_cust_distribution",
    "tpch_q14_promo_share",
    "tpch_q16_supplier_count",
    "tpch_q18_large_orders",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q10_returned_items",
    "tpch_q17_small_quantity_revenue",
    "tpch_q19_discounted_revenue",
    "tpch_q2_min_cost_supplier",
    "tpch_q9_product_type_profit",
    "tpch_q11_important_stock",
    "tpch_q12_shipmode_priority",
    "tpch_q15_top_supplier",
    "tpch_q20_potential_promotion",
    "tpch_q21_suppliers_kept_waiting",
    "tpch_q22_global_sales_opportunity",
    "latest_event",
    "generate_vectorize_batch",
    "top2_event_types",
    "group_counts",
    "model_resolution",
    "byte_budget_admission",
    "sessionization",
    "asof_join_last_click",
    "asof_join_nearest_click",
    "range_join_nearby_events",
    "resample_1h_gapfill",
    "event_funnel_conversion",
    "salted_aggregation",
    "cosine_topk",
    "cosine_topk_blas",
    "grouped_vector_search",
    "lsh_ann_topk",
    "ivf_ann_topk",
    "ivf_grouped_topk",
    "sq8_ann_topk",
    "word_window_slices",
    "tfidf_top_terms",
    "minhash_lsh_candidates",
    "minhash_lsh_candidates_hashed",
    "minhash_lsh_candidates_sampled",
    "ngram_jaccard_pairs",
    "ngram_jaccard_pairs_hashed",
    "duplicate_span_fraction_hashed",
    "span_removal_rewrite",
    "span_removal_rewrite_hashed",
    "simhash_fingerprints",
    "exact_dup_flags",
    "readability",
    "quality_score",
    "token_budget_packing",
    "contamination_flags",
    "duplicate_span_fraction",
    "token_entropy",
    "pmi_cooccurrence",
    "ngram_novelty",
    "embedding_dispersion",
    "lsh_near_dup_pairs",
    "pdf_header_footer_strip",
    "simhash_near_pairs",
    "semantic_dedup_flags",
    "kmeans_3iter",
    "ivf_learned_topk",
    "bloom_prefilter_new_users",
    "cdc_chunk_dedup",
    "incremental_lsh_candidates",
    "incremental_semantic_dedup",
    "multimodal_pipeline",
    "dedup_canonical_pick",
    "snapshot_diff",
    "snapshot_tail_read",
    "shard_export_assignment",
    "ingest_increment_pipeline",
    "ingest_decision_probe",
    "stream_ingest_probe",
    "ingest_state_maintenance",
    "dedup_clusters",
    "lsh_dedup_recall",
    "lsh_dedup_recall_wide",
    "lsh_recall_corpus_midband",
    "dsir_importance_weights",
    "bpe_pair_merge",
    "bpe_merge_3rounds",
    "bpe_encode_corpus",
    "token_budget_packing_bpe",
    "hal_extraction_roundtrip",
    "open_alex_extraction_roundtrip",
    "ted_extraction_roundtrip",
]


def _stage_totals(spark) -> dict[str, int] | None:
    """Cumulative (shuffle read bytes, shuffle write bytes, completed
    tasks) across all completed stages, from the status REST API.
    Returns None when the UI is off or unreachable — byte accounting
    is then simply omitted, never fatal to the timing run."""
    try:
        base = spark.sparkContext.uiWebUrl
        if not base:
            return None
        app_id = spark.sparkContext.applicationId
        url = f"{base}/api/v1/applications/{app_id}/stages?status=complete"
        with urllib.request.urlopen(url, timeout=10) as r:
            stages = json.load(r)
        return {
            "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in stages),
            "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
        }
    except Exception:  # noqa: BLE001
        return None


def _parse_sf_dir(sf_dir: str) -> tuple[float | None, str | None]:
    """(scale factor, corpus tag) from a data-dir name. Corpus tag
    (round-14 verdict item 6: zipf-50k is promoted to a first-class
    comparator corpus): a dir named ..._sf{N}_{tag} stamps
    latest_sf{N}_{tag}.json so realistic-vocabulary canonicals never
    clobber the legacy word-salad series at the same SF."""
    base = os.path.basename(sf_dir.rstrip("/"))
    m = re.search(r"sf([0-9.]+?)(?:_([A-Za-z0-9]+))?$", base)
    if m:
        return float(m.group(1)), m.group(2)
    # fall back to the pre-round-15 full-path scan so dirs the old
    # regex handled (…/sf1/corpus, …/sf0.1-v2) keep stamping
    # latest_sf{N}.json instead of silently minting latest_sfNone.json
    # (round-15 self-review); the corpus tag stays basename-only —
    # a tag that is not the dir's suffix is not a series.
    m = re.search(r"sf([0-9]+(?:\.[0-9]+)?)", sf_dir)
    if m:
        return float(m.group(1)), None
    return None, None


def _storage_info(spark) -> dict[str, int] | None:
    """Live cached-RDD footprint (count + memory/disk bytes) from the
    JVM's storage registry — the per-query dirty-state detector. A
    query that returns leaving blocks cached has perturbed the session
    for every later query in the pass (round-14 verdict item 1:
    sq8_ann_topk needed cross-round adjudication twice running, and
    the isolated re-runs kept acquitting the code — the walls were
    session state). Py4J-only, no REST round-trip."""
    try:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {
            "rdds": len(infos),
            "mem_bytes": sum(i.memSize() for i in infos),
            "disk_bytes": sum(i.diskSize() for i in infos),
        }
    except Exception:  # noqa: BLE001 — accounting must never fail a bench
        return None


def post_query_hygiene(spark) -> dict[str, int] | None:
    """Cache hygiene between bench queries (round-14 verdict item 1):
    sample what the query just left in the block manager, clear the
    catalog cache, and if the query left ANY blocks, unpersist them so
    the NEXT query starts from a clean JVM. Returns the pre-clear
    storage record (None/zeroes = the query was already clean, nothing
    was cleared).

    Rationale: the builders' pins (localCheckpoint frames, the volume
    guards' probe pins among them) are per-build scaffolding, but the
    ContextCleaner frees their blocks only after a JVM GC collects
    the dropped frame — until then they hold memory and add GC work to
    every LATER query in the pass, exactly the flap the per-round
    adjudications kept acquitting as 'session-state'. Clean state per
    query makes every wall self-contained: each warm pass re-runs the
    guard probes and sizing counts its builders take, as a one-build
    scheduled job does."""
    rec = _storage_info(spark)
    # clear UNCONDITIONALLY, not only when blocks materialized: a query
    # that registers a persist but errors/short-circuits before any
    # block lands reads rdds==0 here, yet its lazy CacheManager entry
    # would materialize inside a LATER query sharing the plan fragment
    # — the exact cross-query attribution flap this hook exists to
    # prevent (round-15 self-review). On a clean session this is a
    # no-op py4j round-trip outside the timed window.
    try:
        spark.catalog.clearCache()
    except Exception:  # noqa: BLE001
        pass
    if rec and rec["rdds"]:
        # catalog.clearCache() reaches only CacheManager entries; the
        # localCheckpoint RDDs the iterative builders leave behind
        # (BPE vocab rounds, BFS frontiers, ingest decision pins,
        # volume-guard probe pins —
        # all per-build scaffolding, orphaned once the sink finished)
        # live in the block manager as raw persisted RDDs and survive
        # it. Drop them too, or every later query's storage record
        # inherits ~20 MB of someone else's checkpoints.
        try:
            # py4j exposes the java Map dict-like
            for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                jrdd.unpersist()
        except Exception:  # noqa: BLE001
            pass
    return rec


def _git_rev() -> str | None:
    """Short rev (+ -dirty) of the MEASURED CODE. The -dirty suffix is
    computed over the measured code only (welearn_datastack_spark/ +
    bench.py): bench.py itself writes tracked artifacts (the
    bench_runs/ canonicals), so a whole-tree --dirty would mark every
    stamp after the first as matching no commit — the rev must
    fingerprint the code, not the artifacts the code wrote."""
    import subprocess

    here = Path(__file__).resolve().parent
    try:
        rev = subprocess.run(
            ["git", "describe", "--always"],
            cwd=here, capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
        if not rev:
            return None
        scope_status = subprocess.run(
            ["git", "status", "--porcelain", "--",
             "welearn_datastack_spark/", "bench.py"],
            cwd=here, capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
        return rev + ("-dirty" if scope_status else "")
    except Exception:  # noqa: BLE001 — rev stamping must never fail a bench
        return None


def _cpu_spin(n: int = 5_000_000) -> float:
    """Fixed pure-Python arithmetic loop — single-core interpreter
    speed, independent of Spark. Part of the box-speed calibration."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x = (x * 1103515245 + i) & 0x7FFFFFFF
    if x == -1:  # unreachable; keeps the loop un-foldable
        print(x)
    return time.perf_counter() - t0


def _calibration(spark, rows: int = 20_000_000) -> dict:
    """Box-speed calibration stamp (round-14 verdict item 2): a CONSTANT
    seeded Spark micro-workload (range → xxhash64 → 64-group agg, no
    input data, fixed partitioning) plus a pure-CPU spin, so every
    artifact carries how fast THIS box was at stamp time. Cross-round
    walls on this host move ±20-80% with invisible contention (r13:
    81/91 byte-flat queries read +17% at sf1 on a quiet-gated start;
    the same-box control measured r12 code at 1.8x its own stamp-day
    number) — dividing walls by the same round's calib_sec turns that
    adjudication into arithmetic. The Spark leg runs twice and keeps
    the min (first pass pays one-time codegen for the calib plan)."""
    cpu = _cpu_spin()
    spark_sec = None
    for _ in range(2):
        t0 = time.perf_counter()
        (
            spark.range(0, rows, 1, 32)
            # v bounded so sum() can never overflow long under ANSI
            .selectExpr("xxhash64(id) % 64 AS g", "xxhash64(id + 1) % 1048576 AS v")
            .groupBy("g")
            .sum("v")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        dt = time.perf_counter() - t0
        spark_sec = dt if spark_sec is None else min(spark_sec, dt)
    return {"cpu_sec": round(cpu, 3), "spark_sec": round(spark_sec, 3)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf, corpus = _parse_sf_dir(sf_dir)
    _load_groups()
    spark = get_spark("welearn-bench")
    # warm the JVM + parquet footers so per-query times measure the
    # plan; slim-family decade dirs (gen_sf.py --tables) may lack
    # lineitem, so fall back to any table that exists
    for warm_table in ("lineitem", "documents", "events", "region"):
        if os.path.exists(f"{sf_dir}/{warm_table}.parquet"):
            spark.read.parquet(f"{sf_dir}/{warm_table}.parquet").count()
            break
    # box-speed calibration BEFORE and AFTER the timing loop (subset
    # runs too — they are the adjudication controls, exactly where a
    # calibrated ratio is needed)
    git_rev = _git_rev()
    calib = {"pre": _calibration(spark)}
    print(f"[calib] pre {calib['pre']}", flush=True)

    # VARIANCE PROTOCOL (round 6 — cross-round deltas were noise-
    # polluted two rounds running, with untouched queries drifting
    # ±20-85% between rounds on the shared sandbox): 5 executions per
    # query. Run 0 pays one-time whole-stage-codegen compile + JIT for
    # that plan shape (~0.5-1.7s, measured) and feeds only the cold
    # record (queries_cold, summed to cold_total_sec);
    # the 4 warm runs yield BOTH min (the steady-state floor a
    # 1000-executor job repeats — the headline stat, comparable to
    # prior rounds) and median (robust to one slow outlier), plus a
    # per-query relative spread (max-min)/median so a cross-round
    # delta can be judged against the same query's same-session
    # jitter before being called a regression. The 1-minute load
    # average is sampled before and after so sandbox contention is
    # visible in the record.
    # SHUFFLE-BYTE ACCOUNTING (round 8): the first warm run of each
    # query also records its shuffle read/write bytes and task count
    # (status-API deltas) — bytes are load-independent, so a wall-time
    # drift with unchanged bytes is environment, not plan (the triage
    # rule SCALE.md §13 applies cross-round).
    # per-query failure isolation: one broken query must never erase
    # the whole performance signal — record {"err": ...} for it and
    # keep timing the rest (round-3 postmortem: a single
    # AnalysisException cost the round every number).
    # SPARK_GRAFT_BENCH_RUNS overrides the run count (min 2: one cold +
    # >=1 warm) — used by the sf1/sf3 scale rehearsals where 5 runs
    # over a 10-30x corpus would burn most of the signal budget.
    n_runs = max(2, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))
    # SPARK_GRAFT_BENCH_QUERIES: comma-separated subset for targeted
    # scale rehearsals (e.g. the sf10 heavy-linear family) — the
    # artifact is then written as subset_sf{sf}.json so the canonical
    # full-headline latest_sf{sf}.json series is never overwritten by
    # a partial run.
    subset_env = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "")
    subset = [q.strip() for q in subset_env.split(",") if q.strip()]
    headline = subset or HEADLINE
    # QUERY-ORDER SHUFFLE (round 11): with a fixed query order, every
    # marathon biases the SAME tail queries — session-state inflation
    # (SCALE.md §21.7: wall inflates at byte-identical shuffle totals,
    # isolated re-runs restore it) hit hal/open_alex/readability at
    # sf3 and lsh_ann/span_removal at sf10 purely because they run
    # late. The loop is therefore RUN-MAJOR: each pass executes every
    # query once, in an order shuffled with a fixed per-run seed
    # (random.Random(run_i)), so across the warm passes each query
    # samples different session positions and min-of-warm averages the
    # position effect out instead of baking it in. Deterministic given
    # run count — reproducible across rounds.
    # Codegen note: interleaving ~90 plans per pass would thrash
    # Spark's default 100-entry codegen cache and turn "warm" runs
    # into Janino recompiles; get_spark() raises
    # spark.sql.codegen.cache.maxEntries to 4096 for exactly this.
    warm_by_query: dict[str, list[float]] = {}
    storage_by_query: dict[str, dict[str, int]] = {}
    positions: dict[str, list[int]] = {}
    bytes_by_query: dict[str, dict[str, int]] = {}
    errors: dict[str, str] = {}
    guard_exits: dict[str, str] = {}
    failed: set[str] = set()
    cold_by_query: dict[str, float] = {}
    load_before = os.getloadavg()[0]
    for name in headline:
        if REGISTRY.get(name) is None:
            errors[name] = "not registered"
            failed.add(name)
    artifact_dir = Path(__file__).resolve().parent / "bench_runs"
    artifact_dir.mkdir(exist_ok=True)
    stem = "subset" if subset else "latest"
    # SPARK_GRAFT_BENCH_ARTIFACT redirects the artifact (A/B pairs and
    # tests, so they never clobber the tracked bench_runs/ series)
    override = os.environ.get("SPARK_GRAFT_BENCH_ARTIFACT", "")
    tag = f"_{corpus}" if corpus else ""
    artifact = (
        Path(override) if override else artifact_dir / f"{stem}_sf{sf}{tag}.json"
    )

    def _write_artifact(passes_done: int) -> dict:
        p_times, p_med, p_spread = {}, {}, {}
        for name, warm in warm_by_query.items():
            if not warm:
                continue
            med = statistics.median(warm)
            p_times[name] = round(min(warm), 3)
            p_med[name] = round(med, 3)
            p_spread[name] = (
                round((max(warm) - min(warm)) / med, 3) if med > 0 else 0.0
            )
        if bytes_by_query:
            rd = round(
                sum(b["shuffle_read_bytes"] for b in bytes_by_query.values()) / 1e6, 1
            )
            wr = round(
                sum(b["shuffle_write_bytes"] for b in bytes_by_query.values()) / 1e6, 1
            )
        else:
            rd = wr = None
        detail = {
            "metric": "headline_queries_total",
            "value": round(sum(p_times.values()), 3),
            "unit": "sec",
            "queries": p_times,
            "sf": sf,
            "sf_dir": sf_dir,
            "corpus": corpus or "legacy",
            "runs": n_runs,
            "passes_done": passes_done,
            "stat": f"min-of-{passes_done - 1}-warm",
            "median_total_sec": round(sum(p_med.values()), 3),
            "queries_median": p_med,
            "queries_rel_spread": p_spread,
            "queries_position": positions,
            "queries_shuffle": bytes_by_query,
            "queries_storage": storage_by_query,
            "shuffle_read_mb": rd,
            "shuffle_write_mb": wr,
            "cold_total_sec": round(sum(cold_by_query.values()), 3),
            # pass-0 seconds per query: the cold time of each plan
            # shape, which the pass-0 order makes position-dependent
            "queries_cold": {k: round(v, 3) for k, v in cold_by_query.items()},
            "loadavg_1m": [round(load_before, 2), round(os.getloadavg()[0], 2)],
            "git_rev": git_rev,
            "calibration": {
                **calib,
                "spark_mean_sec": round(
                    statistics.mean(c["spark_sec"] for c in calib.values()), 3
                ),
            },
        }
        if errors:
            detail["errors"] = errors
        if guard_exits:
            # pre-flight volume-guard verdicts (PairVolumeExceeded):
            # the query declined to run with a measured projection —
            # a recorded DECISION, not an error (round-11 sf100: the
            # unguarded form burned 98 min then died on disk; the
            # guarded form exits in seconds and the artifact carries
            # the projection instead of a Py4J stack trace)
            detail["guard_exits"] = guard_exits
        artifact.write_text(json.dumps(detail, indent=1))
        return detail

    for run_i in range(n_runs):
        order = list(headline)
        random.Random(run_i).shuffle(order)
        for pos, name in enumerate(order):
            if name in failed:
                continue
            spec = REGISTRY[name]
            # per-query failure isolation: one broken query must never
            # erase the whole performance signal (round-3 postmortem)
            try:
                before = _stage_totals(spark) if run_i == 1 else None
                t0 = time.time()
                spec.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                if run_i == 0:
                    cold_by_query[name] = dt
                else:
                    warm_by_query.setdefault(name, []).append(dt)
                positions.setdefault(name, []).append(pos)
                if run_i == 1 and before is not None:
                    after = _stage_totals(spark)
                    if after is not None:
                        bytes_by_query[name] = {
                            k: after[k] - before[k] for k in before
                        }
                # per-query storage accounting + cache hygiene (round-14
                # verdict item 1): record what this query left cached,
                # then clear it so the next query's wall is self-
                # contained — a dirty-state stamp is now DETECTABLE
                # (queries_storage nonzero) and IMPOSSIBLE (cleared)
                st = post_query_hygiene(spark)
                if st and st["rdds"]:
                    prev = storage_by_query.get(name)
                    if prev is None or (
                        st["mem_bytes"] + st["disk_bytes"]
                        > prev["mem_bytes"] + prev["disk_bytes"]
                    ):
                        storage_by_query[name] = st
                # compact per-query stdout line: with console progress
                # bars off (session.py), these are what the driver's
                # ~2000-char tail shows — query names + times instead
                # of carriage-return progress frames
                print(f"[p{run_i}] {name} {dt:.2f}s", flush=True)
            except PairVolumeExceeded as e:
                guard_exits[name] = str(e)[:500]
                failed.add(name)
                post_query_hygiene(spark)
                print(f"[p{run_i}] {name} GUARD-EXIT: {e}"[:200], flush=True)
            except Exception as e:  # noqa: BLE001
                errors[name] = f"{type(e).__name__}: {e}"[:300]
                failed.add(name)
                post_query_hygiene(spark)
                # keep any warm samples already collected — a transient
                # failure on a LATE pass must not erase real timing
                # signal (the error is recorded alongside, and the
                # partial sample count is visible as len(queries_rel_
                # spread) vs runs); bytes/cold stay counted for the
                # same reason.
                print(f"[p{run_i}] {name} ERROR: {e}"[:200], flush=True)
            _write_artifact(passes_done=run_i + 1)
        # flush a partial artifact after EVERY completed query/pass: a
        # marathon killed by a wall-clock cap keeps its finished
        # passes (the sf100 slim stamp died at minute 98 of 3 passes
        # with nothing on disk — never again). The final write below
        # overwrites this with passes_done == runs.
        _write_artifact(passes_done=run_i + 1)
    calib["post"] = _calibration(spark)
    print(f"[calib] post {calib['post']}", flush=True)
    detail = _write_artifact(passes_done=n_runs)
    total = detail["value"]
    shuffle_read_mb = detail["shuffle_read_mb"]
    shuffle_write_mb = detail["shuffle_write_mb"]

    # COMPACT final line — must stay well under the driver's ~2000-char
    # tail capture (per-query detail lives in the artifact only)
    summary = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(detail["queries"]),
        "runs": n_runs,
        "stat": f"min-of-{n_runs - 1}-warm",
        "median_total_sec": detail["median_total_sec"],
        "cold_total_sec": detail["cold_total_sec"],
        "errors_n": len(errors),
        "guard_exits_n": len(guard_exits),
        "shuffle_read_mb": shuffle_read_mb,
        "shuffle_write_mb": shuffle_write_mb,
        "loadavg_1m": detail["loadavg_1m"],
        "calib_sec": detail["calibration"]["spark_mean_sec"],
        "artifact": (
            str(artifact.relative_to(artifact_dir.parent))
            if artifact.is_relative_to(artifact_dir.parent)
            else str(artifact)
        ),
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
