"""Physical-plan quality gates — the queries must not merely be
correct, they must compile to the plan you'd want at 100 TB:
filters pushed into the parquet scan, pruned read schemas, broadcast
joins on dimension sides, no redundant shuffles."""

from __future__ import annotations

from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

_load_groups()


def _plan(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].build(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q1_column_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q1_pricing_summary")
    # ReadSchema must not include unused columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    for unused in ("l_orderkey", "l_partkey", "l_suppkey", "l_comment"):
        assert unused not in read_schema, f"{unused} not pruned: {read_schema}"


def test_q5_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q5_region_revenue")
    # nation + region are hint-broadcast; customer may be auto-chosen
    # by size at small SF but carries no hint (see test below)
    assert plan.count("BroadcastHashJoin") >= 2


# Tables whose row count grows with the TPC-H scale factor: a forced
# broadcast on any of these OOMs at 100 TB. Only nation/region (and
# derived bounded frames like centroids or single-row normalizers)
# may carry hints.
_HINT_BUDGET = {
    # query name -> number of joins allowed to remain broadcast when
    # autoBroadcastJoinThreshold is -1 (i.e. explicitly hinted joins),
    # all of which must be bounded dims.
    "tpch_q3_shipping_priority": 0,
    "tpch_q5_region_revenue": 2,  # nation, region
    "rollup_revenue": 2,  # nation, region
    "tpch_q14_promo_share": 0,
    "tpch_q16_supplier_count": 0,
    "tpch_q18_large_orders": 0,
    "broadcast_lookup": 1,  # nation
    "tpch_q2_min_cost_supplier": 2,  # nation, region — single branch since the r16 window-min rewrite (the agg+join-back decorrelation compiled both joins twice)
    "tpch_q9_product_type_profit": 1,  # nation
    "tpch_q11_important_stock": 1,  # nation (1-row filtered)
    "tpch_q12_shipmode_priority": 0,
    "tpch_q15_top_supplier": 1,  # 1-row max-revenue scalar — Catalyst pushes the equality filter into the cross join, making it a (bounded) hash join
    "tpch_q20_potential_promotion": 1,  # nation (semi)
    "tpch_q21_suppliers_kept_waiting": 1,  # nation (semi)
    "tpch_q22_global_sales_opportunity": 1,  # nation IN-list
}


def test_no_broadcast_hints_on_sf_scaling_tables(spark, sf_dir):
    """With auto-broadcast disabled, the only BroadcastHashJoins left
    are the explicit hints — assert each query hints exactly its
    bounded dims and nothing that scales with SF."""
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        for name, allowed in _HINT_BUDGET.items():
            plan = _plan(spark, sf_dir, name)
            got = plan.count("BroadcastHashJoin")
            assert got == allowed, (
                f"{name}: {got} hinted broadcast joins, expected {allowed} "
                f"(a hint on an SF-scaling table?)\n{plan[:2000]}"
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def test_latest_event_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "latest_event")
    # one clustering shuffle for the ranking window — nothing else
    assert plan.count("Exchange hashpartitioning") == 1
    # Spark's WindowGroupLimit kicks in: partial top-1 BEFORE the
    # shuffle, so the exchange moves ≈|keys| rows, not the whole log
    assert "WindowGroupLimit" in plan


def test_model_resolution_no_fact_shuffle_for_joins(spark, sf_dir):
    plan = _plan(spark, sf_dir, "model_resolution")
    # all three joins broadcast — the fact side never shuffles for a
    # join; the only clustering shuffle is the ranking window's
    assert plan.count("BroadcastHashJoin") == 3
    assert plan.count("Exchange hashpartitioning") == 1


def test_no_python_in_relational_kernel(spark, sf_dir):
    for name in (
        "latest_event",
        "model_resolution",
        "top2_event_types",
        "byte_budget_admission",
        "cosine_topk",
        "simhash_fingerprints",
        "quality_score",
        "readability",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "EvalPython" not in plan, f"{name} fell off the JVM path"


def test_semi_and_anti_join_operators(spark, sf_dir):
    semi = _plan(spark, sf_dir, "semi_join_recent_customers")
    anti = _plan(spark, sf_dir, "anti_join_stale_customers")
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


# Queries allowed to contain a BroadcastNestedLoopJoin: each one
# broadcasts a frame whose size is BOUNDED regardless of SF — the
# fixed query set (|Q|=10), a per-label centroid table (|labels|·dim),
# or a single-row total/normalizer. Anything else appearing here is a
# plan regression that turns into a cluster-killing cross product at
# 100 TB.
_BNLJ_ALLOWED = {
    "temperature_mixture_weights",  # 1-row corpus-total normalizer
    "closed_window_counts",         # 1-row watermark frame
    "cosine_topk",                  # bounded query-set broadcast
    "cosine_topk_blas",             # same (top_k_by over candidates)
    "grouped_vector_search",        # bounded query-set broadcast
    "embedding_near_dup",           # bounded query-set broadcast
    "ivf_ann_topk",                 # centroid table (k_centroids rows)
    "semantic_dedup_flags",         # centroid table (k_centroids rows)
    "kmeans_3iter",                 # centroid table (k_centroids rows)
    "ivf_learned_topk",             # learned centroid table (k rows)
    "sq8_ann_topk",                 # bounded query-set broadcast
    "ann_recall_report",            # bounded query-set broadcast
    "ann_method_recall",            # same, x3 method branches
    "tfidf_top_terms",              # 1-row doc-count normalizer
    "pmi_cooccurrence",             # 1-row total normalizer
    "tpch_q11_important_stock",     # 1-row global-threshold scalar
    "tpch_q22_global_sales_opportunity",  # 1-row avg-balance scalar
    "dsir_importance_weights",      # 1-row smoothing-total scalar onto the 64-row model
}


def test_no_unexpected_broadcast_nested_loop_joins(spark, sf_dir):
    """Full-registry sweep: a BroadcastNestedLoopJoin outside the
    bounded-frame allow-list means a join lost its equi-condition (or
    a crossJoin crept onto an SF-scaling table)."""
    offenders = {}
    for name in sorted(REGISTRY):
        plan = _plan(spark, sf_dir, name)
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_ALLOWED:
            offenders[name] = plan.count("BroadcastNestedLoopJoin")
    assert not offenders, f"unexpected BNLJ in: {offenders}"


# The dedup/LSH pipelines' shuffle budgets. These are the queries
# whose scale story is "bucket once, work bucket-local"; an extra
# exchange here means a dropDuplicates / repartition crept back into
# the near-quadratic pair stream. Counts are for the pre-AQE physical
# plan at sf0.001 with the session defaults.
_EXCHANGE_BUDGET = {
    "exact_dup_flags": 1,          # one hash window over normalized text
    # tokenize agg + band agg + the hot-bucket sub-split's pinned
    # bucket/chunk-pair repartitions (round-9: lsh_candidates moved to
    # chunked_self_pairs so no task materializes a mega-bucket's pair
    # array) + pair dedup
    "minhash_lsh_candidates": 7,
    # same plan, 8-byte keys. TIGHT budget, asserted on a COLD guard
    # cache (the test releases live guard persists first — round-13
    # ADVICE: the loosened 9 absorbed the cached-plan variant and let
    # a genuine +2-exchange regression pass). When the session already
    # ran minhash_lsh_candidates_sampled, its persist_on_probe cache
    # makes this plan read through an InMemoryRelation boundary, which
    # drops the doc_id-clustering elision and re-adds two NARROW
    # band-row exchanges (deliberate: −35% family win at sf3, SCALE.md
    # §24.2) — test_sampled_cache_feeds_sibling_plan pins that variant.
    "minhash_lsh_candidates_hashed": 7,
    # round-13 rewrite: shingle agg + the chunk-split's pinned bucket
    # and 2 chunk-pair repartitions (off the collect_list OOM-bomb
    # idiom, same as lsh_candidates since round 10) + pair-count agg +
    # jaccard agg — growth beyond this means ANOTHER shuffle joined
    # the pair stream. Round 14: on a corpus whose probe certifies no
    # bucket over chunk_target (sf0.001 here), the adaptive choice
    # takes direct_self_pairs — shingle agg + pinned bucket repartition
    # + pair-count agg + jaccard agg + scan-side = 5; a guard-stats
    # regression that silently re-engages the chunk split shows up as
    # 7 here first
    "ngram_jaccard_pairs": 5,
    "ngram_jaccard_pairs_hashed": 5,     # same plan, 8-byte keys
    # r15 opt: first-owner min-struct WINDOW over shingle (the former
    # groupBy + join-back paid the token-level exchange twice) +
    # coverage dedup + rebuild agg; the tokenized corpus is pinned
    # once (localCheckpoint), whose build job carries the one
    # doc-clustered repartition. Growth back to 5 means the join-back
    # or per-consumer scans returned
    "span_removal_rewrite": 3,
    "span_removal_rewrite_hashed": 3,    # same plan, 8-byte span keys
    "incremental_lsh_candidates": 2,     # per-slice band aggs; probe join reuses
    # two bucket-pruned assignments (broadcast cents; per-vector
    # arg-max aggs) + member/probe joins + dup agg — all vec_id or
    # cluster-keyed
    "incremental_semantic_dedup": 9,
    # scaled-plane projection is map-side; 1 pinned bucket repartition
    # + 2 pinned chunk-pair repartitions (the AQE-coalescing defeat,
    # see chunked_self_pairs) + the scan-side exchange
    "lsh_near_dup_pairs": 4,
    # bucket-pruned assignment (broadcast centroid join + arg-max agg
    # + self-assign left join) + member join + 3 pinned sub-split
    # repartitions + dup agg + final label join — all keyed on vec_id
    # or the narrow cluster id, none carrying the corpus twice
    "semantic_dedup_flags": 11,
    # star-contraction CC: the final label agg over the converged
    # (checkpointed) star edges is the one remaining exchange —
    # per-round work happened against contracted edge sets already
    "dedup_clusters": 1,
    # fingerprints + 3 pinned bucket repartitions (the AQE-coalescing
    # defeat) + chunk-pair sub-split branches; a drop below this count
    # is fine, but growth means pair generation re-serialized
    "simhash_near_pairs": 8,
    # batch shingle/minhash aggs + band-probe join + near/exact
    # left joins; the stored state sides are plain parquet scans
    # (broadcast at toy SF, bucket-local at scale) — growth means the
    # corpus side started re-shingling or re-shuffling
    "ingest_increment_pipeline": 5,
    # the decision-only default: same batch-side aggs, but the near
    # leg is a left_semi band-existence check + distinct on the
    # matched batch ids — corpus collision multiplicity is never
    # materialized, so growth here means the pair stream crept back
    "ingest_decision_probe": 5,
    # baked-literal quantizer serve paths (round 8): assignment and
    # probe ranking are map expressions, candidates score inside a
    # broadcast join on the list id — the ONE exchange is the narrow
    # (q_id, c_id, cosine) top-k window; growth means corpus
    # embeddings started shuffling again (the byte decay the round-8
    # audit caught)
    "ivf_ann_topk": 1,
    "ivf_learned_topk": 1,
    # Lloyd's per-iteration update shuffles k×dim partials inside the
    # build collects; the RETURNED assignment frame is a pure map
    # over the scan — zero exchanges
    "kmeans_3iter": 0,
    # truth leg (shingle agg + bucket-pair agg + pair-count agg) and
    # candidate leg (minhash agg + band agg + sub-split pins + pair
    # dedup) meet in one (a_id, b_id) join + the decile rollup — all
    # keys are ids or narrow hashes on the row-budget sample
    # +4 in round 13: the truth leg's jaccard_pairs now rides the
    # chunk-split join (see ngram_jaccard_pairs above)
    "lsh_dedup_recall": 16,
    "lsh_dedup_recall_wide": 16,  # same plan at (b=8, r=2) sizing
    # returned plan reads the two PINNED frames (prs splice pipeline +
    # shared 16-perm signatures, both localCheckpointed — bounded by
    # the row budget): two band aggs, two pair-scoped left_semi
    # existence joins (never all-pairs candidates), the two left
    # joins, and the decile rollup; growth means a banding leg
    # started rescanning or re-pairing
    "lsh_recall_corpus_midband": 12,
    # gram pipeline evaluated twice (learn the 64-bucket dist, then
    # score): 2 (doc,bucket) aggs + the bucket dist agg + final
    # per-doc agg; the model side returns as two broadcasts + one
    # single-partition total — growth means the 64-row model started
    # shuffling the corpus
    "dsir_importance_weights": 6,
    # the whole point: corpus pass collapses to the vocab rollup (1),
    # pair counts over the vocab (1); the top-20 window runs on the
    # already-tiny pair table
    "bpe_pair_merge": 2,
    # one pair-rollup exchange per unrolled round; the corpus never
    # appears in the returned plan (vocab pinned by localCheckpoint),
    # so growth means a round started rescanning the corpus
    "bpe_merge_3rounds": 3,
}


def test_dedup_lsh_exchange_budgets(spark, sf_dir):
    # cold guard cache: another test (or registry order) may have left
    # minhash_lsh_candidates_sampled's persist_on_probe cache live,
    # which legitimately adds 2 exchanges to the hashed sibling's plan
    # — release so the TIGHT budgets keep their teeth (round-13 ADVICE)
    from welearn_datastack_spark.operators.dedup import release_guard_caches

    release_guard_caches()
    for name, budget in _EXCHANGE_BUDGET.items():
        plan = _plan(spark, sf_dir, name)
        got = plan.count("Exchange hashpartitioning")
        assert got <= budget, (
            f"{name}: {got} hash exchanges, budget {budget} — a new "
            f"shuffle appeared in the dedup pipeline\n{plan[:1500]}"
        )


def test_cc_input_is_star_edges_not_pairs(spark, sf_dir):
    """dedup_clusters/dedup_canonical_pick feed connected components
    per-bucket STAR edges, not the |bucket|²/2 pair stream — the CC
    input frame's plan must contain NO combinatorial pair expansion
    (lsh_candidates' flatten(transform(sequence ...)) shape) and stay
    within the linear pipeline's exchange budget. Built here exactly
    as the queries build it (they execute CC eagerly, so the
    registry-level plan only shows the post-CC label agg)."""
    from welearn_datastack_spark.operators.dedup import (
        lsh_band_keys,
        minhash_signatures,
        star_edges,
        word_shingles,
    )
    from welearn_datastack_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    sh = word_shingles(docs, "doc_id", "text", n=3)
    sigs = minhash_signatures(sh, "doc_id", n_hashes=8)
    bands = lsh_band_keys(sigs, "doc_id", rows_per_band=2)
    edges = star_edges(bands, ["band", "band_key"], "doc_id")
    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert "flatten(transform(sequence" not in plan, (
        "quadratic pair expansion crept back into the CC edge input:\n" + plan[:1500]
    )
    # shingle agg + band agg + bucket-min window + edge dedup — every
    # exchange carries ≤ |D|·n_bands narrow rows
    got = plan.count("Exchange hashpartitioning")
    assert got <= 4, f"{got} hash exchanges in the star-edge pipeline\n{plan[:1500]}"


def test_snapshot_tail_filter_pushed_to_log_scan(spark, sf_dir):
    """The whole point of the snapshot+tail read is that `ts >
    watermark` PRUNES the log scan (row-group min/max skip old
    files) — if the predicate stops reaching the parquet scan the
    query silently re-reads the full history at 100 TB."""
    plan = _plan(spark, sf_dir, "snapshot_tail_read")
    assert "PushedFilters: [IsNotNull(ts), GreaterThan(ts," in plan, plan[:2000]


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
