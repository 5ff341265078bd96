"""Scale-operator tests: binary codec round-trip, salted aggregation
equivalence, partitioned writes with partition pruning."""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from welearn_datastack_spark.functions.codec import bytes_to_embedding, embedding_to_bytes
from welearn_datastack_spark.operators.skew import salted_sum_count


def test_codec_roundtrip_exact(spark):
    vals = [
        [0.0, -0.0, 1.5, -2.25],
        [3.4e38, -3.4e38, 1e-45, 0.1],  # extremes + subnormal + inexact
        None,
    ]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i int, v array<float>")
    out = df.select(
        "i",
        embedding_to_bytes(F.col("v")).alias("b"),
        bytes_to_embedding(embedding_to_bytes(F.col("v"))).alias("rt"),
    ).collect()
    rows = {r["i"]: r for r in out}
    # byte layout: float32 little-endian, 4 bytes per element
    assert rows[0]["b"] == np.asarray(vals[0], dtype="<f4").tobytes()
    assert len(rows[0]["b"]) == 16
    for i, v in enumerate(vals):
        if v is None:
            assert rows[i]["rt"] is None
        else:
            got = np.asarray(rows[i]["rt"], dtype=np.float32)
            want = np.asarray(v, dtype=np.float32)
            assert np.array_equal(got, want), (i, got, want)


def test_salted_aggregation_equals_direct(spark, sf_dir):
    from welearn_datastack_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    direct = {
        r["event_type"]: (round(r["s"], 2), r["c"])
        for r in ev.groupBy("event_type").agg(F.sum("value").alias("s"), F.count(F.lit(1)).alias("c")).collect()
    }
    salted = {
        r["event_type"]: (round(r["sum_value"], 2), r["n_rows"])
        for r in salted_sum_count(ev, ["event_type"], "value", n_salts=16).collect()
    }
    assert salted == direct


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    from welearn_datastack_spark.sources.tables import load_table

    out = str(tmp_path / "docs_by_lang")
    docs = load_table(spark, sf_dir, "documents")
    # the 100 TB layout: partition by the dispatch key so per-corpus /
    # per-lang jobs scan only their slice (SCALE.md §1 storage-aligned)
    docs.write.partitionBy("lang").parquet(out)
    back = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan, plan[:500]
    # pruned read returns exactly the en rows
    assert back.count() == docs.filter(F.col("lang") == "en").count()


def test_zorder_key_interleaves_bits(spark):
    from welearn_datastack_spark.operators.zorder import zorder_key

    df = spark.createDataFrame([(0b101, 0b011)], "a int, b int")
    (r,) = df.select(zorder_key(F.col("a"), F.col("b"), bits=4).alias("z")).collect()
    # a bits at even positions, b bits at odd: a=101, b=011
    # z = a0<<0 | b0<<1 | a1<<2 | b1<<3 | a2<<4 | b2<<5
    #   = 1 + 2 + 0 + 8 + 16 + 0 = 27
    assert r["z"] == 27


def test_zorder_layout_tightens_both_dimensions(spark, tmp_path):
    """Sorting by the z-key must shrink per-file min/max spans in BOTH
    dimensions vs a single-column sort — the property that lets
    parquet stats prune scans for predicates on either column."""
    import itertools

    from welearn_datastack_spark.operators.zorder import zorder_key

    n = 64
    rows = [(a, b) for a, b in itertools.product(range(n), range(n))]
    df = spark.createDataFrame(rows, "x int, y int").repartition(1)

    def avg_spans(out_dir, order_cols):
        df.sortWithinPartitions(*order_cols).write.mode("overwrite").option(
            "maxRecordsPerFile", 256
        ).parquet(str(out_dir))
        per_file = (
            spark.read.parquet(str(out_dir))
            .groupBy(F.input_file_name())
            .agg(
                (F.max("x") - F.min("x")).alias("sx"),
                (F.max("y") - F.min("y")).alias("sy"),
            )
            .agg(F.avg("sx").alias("ax"), F.avg("sy").alias("ay"))
            .collect()[0]
        )
        return per_file["ax"], per_file["ay"]

    ax_lin, ay_lin = avg_spans(tmp_path / "linear", [F.col("x"), F.col("y")])
    ax_z, ay_z = avg_spans(
        tmp_path / "zorder", [zorder_key(F.col("x"), F.col("y"), bits=8)]
    )
    # linear sort: x is tight but y spans the whole domain in every file
    assert ay_lin >= n - 1
    # z-order: BOTH dimensions bounded well below the full domain
    assert ax_z < n / 2 and ay_z < n / 2


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Runtime semi-join bloom pruning: when a selective dim filter
    feeds a shuffle join, Spark injects bloom_filter_agg on the dim
    side and BloomFilterMightContain on the fact scan — at 100 TB this
    drops non-matching fact rows AT THE SCAN, before the shuffle. The
    size thresholds exist only to force the big-join shape on sf-scale
    local data; correctness of the filtered join is asserted against
    the unfiltered plan's result."""
    import pyspark.sql.functions as F

    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan.lower()
        n_bloom = j.count()
    finally:
        for k, v in saved.items():
            conf.set(k, v)
    n_plain = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .join(
            spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
                F.col("o_orderpriority") == "1-URGENT"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .count()
    )
    assert n_bloom == n_plain


def test_simhash_hot_bucket_sub_split_bounds_task_width(spark):
    """One band value holding the WHOLE corpus (the boilerplate-heavy
    worst case) must not generate its |bucket|² pairs in a single
    task: the sub-split chunks the bucket so per-task pair generation
    is bounded by ~chunk_target², while the pair SET stays exactly the
    brute-force set."""
    from welearn_datastack_spark.operators.dedup import simhash_near_pairs

    n, ct = 400, 16
    # every doc shares the same fingerprint → every band bucket is hot
    fp = spark.range(n).select(F.col("id").alias("doc_id"), F.lit(0xBEEF).alias("simhash"))
    pairs = simhash_near_pairs(fp, "doc_id", bits=16, n_bands=4, max_hamming=3, chunk_target=ct)
    rows = pairs.collect()
    # exact: all n·(n-1)/2 pairs at hamming 0, each exactly once, a<b
    assert len(rows) == n * (n - 1) // 2
    assert all(r["hamming"] == 0 and r["a_id"] < r["b_id"] for r in rows)
    assert len({(r["a_id"], r["b_id"]) for r in rows}) == len(rows)
    # width bound: replay the chunk assignment THROUGH THE OPERATOR'S
    # OWN helper (chunk_assignment) — s=ceil(n/ct) chunks, and no
    # chunk (hence no chunk-pair task side) exceeds a small multiple
    # of chunk_target even under hash imbalance
    from welearn_datastack_spark.operators.dedup import chunk_assignment

    s = -(-n // ct)
    sizes = (
        spark.range(n)
        .select(chunk_assignment("id", s).alias("c"))
        .groupBy("c")
        .count()
        .collect()
    )
    assert len(sizes) > 1, "hot bucket was not split"
    assert max(r["count"] for r in sizes) <= 4 * ct


def test_strip_shared_spans_semantics(spark):
    """First corpus occurrence of a span survives, later occurrences
    are deleted, an exact duplicate collapses to nothing, and
    sub-width documents pass through untouched."""
    import hashlib

    from welearn_datastack_spark.operators.dedup import strip_shared_spans

    boiler = "one two three four five six seven eight"  # exactly 8 tokens
    docs = spark.createDataFrame(
        [
            (1, boiler + " unique tail alpha beta"),
            (2, boiler + " different ending gamma delta"),  # loses the boilerplate
            (3, boiler),                                    # exact span dup → empty
            (4, "short text"),                              # < width → untouched
            (5, ""),                                        # empty → untouched
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in strip_shared_spans(docs, "doc_id", "text", width=8).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert len(out) == 5
    # doc 1 owns every first occurrence → nothing removed
    assert out[1]["n_removed"] == 0 and out[1]["clean_hash"] == md5(
        boiler + " unique tail alpha beta"
    )
    # doc 2: its first 8 tokens replicate doc 1's spans → removed;
    # the tail survives
    assert out[2]["n_removed"] == 8
    assert out[2]["clean_hash"] == md5("different ending gamma delta")
    # doc 3 is exactly one duplicated span → fully deduplicated
    assert out[3]["n_removed"] == 8 and out[3]["clean_hash"] == md5("")
    # sub-width and empty docs carry no spans → untouched
    assert out[4]["n_removed"] == 0 and out[4]["clean_hash"] == md5("short text")
    assert out[5]["n_tokens"] == 0 and out[5]["clean_hash"] == md5("")


def test_strip_shared_spans_within_doc_tiebreak(spark):
    """r15 opt pin: the first-owner mark is min (doc_id, pos) — the
    window rewrite must keep the POSITION tie-break for a span
    repeated WITHIN one document (first occurrence kept, the later
    one removed), in both the string and hashed key paths."""
    import hashlib

    from welearn_datastack_spark.operators.dedup import strip_shared_spans

    phrase = "a b c d e f g h"
    docs = spark.createDataFrame(
        [(7, phrase + " " + phrase)], "doc_id long, text string"
    )
    for hashed in (False, True):
        row = strip_shared_spans(
            docs, "doc_id", "text", width=8, hashed_keys=hashed
        ).collect()[0]
        assert row["n_tokens"] == 16 and row["n_removed"] == 8, hashed
        assert row["clean_hash"] == hashlib.md5(phrase.encode()).hexdigest()


def test_chunked_self_pairs_exact_and_payload_aligned(spark):
    """bucket_pairs' sub-split plan (no max_bucket certificate) must
    emit every unordered within-bucket pair exactly once with
    a_id < b_id, payloads swapped together with the ids, and split a
    hot bucket across chunk pairs."""
    from welearn_datastack_spark.operators.dedup import bucket_pairs

    n, ct = 120, 16
    df = spark.range(n).select(
        F.col("id").alias("vid"),
        (F.col("id") % 3).alias("bkt"),          # 3 buckets of 40
        (F.col("id") * 10).alias("payload"),     # payload derivable from id
    )
    rows = bucket_pairs(df, ["bkt"], "vid", ["payload"], chunk_target=ct).collect()
    per_bucket = n // 3
    assert len(rows) == 3 * per_bucket * (per_bucket - 1) // 2
    seen = set()
    for r in rows:
        assert r["a_id"] < r["b_id"]
        # payload alignment survives the cross-chunk orientation swap
        assert r["a_payload"] == r["a_id"] * 10 and r["b_payload"] == r["b_id"] * 10
        assert r["a_id"] % 3 == r["bkt"] and r["b_id"] % 3 == r["bkt"]
        key = (r["bkt"], r["a_id"], r["b_id"])
        assert key not in seen
        seen.add(key)
    # bucket at/under chunk_target takes the un-split plan and is
    # still exact
    small = spark.range(10).select(
        F.col("id").alias("vid"), F.lit(0).alias("bkt"), F.col("id").alias("payload")
    )
    srows = bucket_pairs(small, ["bkt"], "vid", ["payload"], chunk_target=256).collect()
    assert len(srows) == 45


def test_simhash_rejects_nonpositive_chunk_target(spark):
    """chunk_target=0 would null out the chunk columns under non-ANSI
    SQL and silently return an empty pair set — it must raise."""
    import pytest

    from welearn_datastack_spark.operators.dedup import simhash_near_pairs

    fp = spark.range(4).select(F.col("id").alias("doc_id"), F.lit(1).alias("simhash"))
    with pytest.raises(AssertionError):
        simhash_near_pairs(fp, "doc_id", chunk_target=0)


def test_hashed_shingle_variants_match_string_keyed(spark):
    """The xxhash64-shuffle-key variants must produce byte-identical
    results to the string-keyed path (jaccard, span fraction) and
    recover exact duplicates under either minhash basis."""
    from welearn_datastack_spark.operators.dedup import (
        hashed_shingles,
        jaccard_pairs,
        lsh_band_keys,
        lsh_candidates,
        minhash_signatures,
        word_shingles,
    )

    base = "the quick brown fox jumps over the lazy dog near the old stone bridge "
    docs = spark.createDataFrame(
        [
            (1, base * 3),
            (2, base * 3),                     # exact dup of 1
            (3, base * 3 + " extra trailing words here"),  # near dup
            (4, "completely different content about spark shuffle internals " * 4),
            (5, "completely different content about spark shuffle internals " * 4),  # dup of 4
            (6, "unrelated short text with its own vocabulary entirely", ),
        ],
        "doc_id long, text string",
    )
    sh_s = word_shingles(docs, "doc_id", "text", n=3)
    sh_h = hashed_shingles(sh_s, "doc_id")

    jp_s = {(r["a_id"], r["b_id"]): r["jaccard"] for r in jaccard_pairs(sh_s, "doc_id", 0.15).collect()}
    jp_h = {(r["a_id"], r["b_id"]): r["jaccard"] for r in jaccard_pairs(sh_h, "doc_id", 0.15).collect()}
    assert jp_s == jp_h and (1, 2) in jp_s and jp_s[(1, 2)] == 1.0

    def lsh_pairs(sh, prehashed):
        sigs = minhash_signatures(sh, "doc_id", n_hashes=8, prehashed=prehashed)
        bands = lsh_band_keys(sigs, "doc_id", rows_per_band=2, long_keys=prehashed)
        return {(r["a_id"], r["b_id"]) for r in lsh_candidates(bands, "doc_id").collect()}

    p_s, p_h = lsh_pairs(sh_s, False), lsh_pairs(sh_h, True)
    # exact duplicates have identical shingle sets → identical
    # signatures → guaranteed candidates under ANY hash basis
    for must in [(1, 2), (4, 5)]:
        assert must in p_s and must in p_h
    # and neither basis invents pairs across disjoint shingle sets
    assert (1, 6) not in p_s and (1, 6) not in p_h

    # the cross-engine narrow-key path is stronger: hexint prehash
    # reproduces the string path's signatures exactly
    # (pmod(hexint(s), p) == hexint(s) % p), so its candidate set is
    # BIT-IDENTICAL, not merely basis-equivalent
    sh_x = hashed_shingles(sh_s, "doc_id", cross_engine=True)
    sigs_x = minhash_signatures(sh_x, "doc_id", n_hashes=8, prehashed=True)
    bands_x = lsh_band_keys(
        sigs_x, "doc_id", rows_per_band=2, long_keys=True, cross_engine=True
    )
    p_x = {(r["a_id"], r["b_id"]) for r in lsh_candidates(bands_x, "doc_id").collect()}
    assert p_x == p_s


def test_shard_export_balanced_and_deterministic(spark, sf_dir):
    """Shard assignment must be balanced (hash spread), positionally
    dense (pos = 1..shard_size with no gaps — the property a shard
    writer relies on), and bit-for-bit reproducible across builds."""
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

    _load_groups()
    build = REGISTRY["shard_export_assignment"].build
    rows = build(spark, sf_dir).collect()
    n = len(rows)
    assert n == 500
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    sizes = [len(v) for v in by_shard.values()]
    assert len(by_shard) == 16
    # balance: md5 spread over 16 shards; 500 rows => expect ~31/shard,
    # allow wide but bounded imbalance
    assert max(sizes) <= 3 * min(sizes), sizes
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # determinism across independent builds
    again = {(r["doc_id"], r["shard"], r["pos"]) for r in build(spark, sf_dir).collect()}
    assert {(r["doc_id"], r["shard"], r["pos"]) for r in rows} == again


def test_semantic_dedup_flags_identical_vectors(spark, tmp_path):
    """Two identical embeddings always land in the same cluster
    (identical centroid scores) and the larger id is flagged as a
    semantic dup of the smaller — cosine 1.0 >= tau by construction."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(320, 64)).astype(np.float32)
    vecs[301] = vecs[300]  # exact pair, ids far from the centroid ids
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(320, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array((np.arange(320) % 10).astype(np.int32)),
        }),
        tmp_path / "embeddings.parquet",
    )
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

    _load_groups()
    out = {
        r["vec_id"]: r
        for r in REGISTRY["semantic_dedup_flags"].build(spark, str(tmp_path)).collect()
    }
    assert len(out) == 320
    assert out[300]["cent_id"] == out[301]["cent_id"]
    # 301 must be flagged (cosine 1.0 with 300 >= tau); dup_of is the
    # MIN qualifying id, so it is at most 300 (another in-cluster
    # member may also clear tau with a smaller id)
    assert out[301]["dup_of"] is not None and out[301]["dup_of"] <= 300
    assert out[301]["kept"] is False
    # every flagged dup references a smaller-id member of the same cluster
    for r in out.values():
        if r["dup_of"] is not None:
            assert r["dup_of"] < r["vec_id"]
            assert out[r["dup_of"]]["cent_id"] == r["cent_id"]


def test_bloom_bitmap_no_false_negatives_and_prunes(spark):
    """The prefilter contract: every member passes (no false
    negatives — correctness of the downstream exact join depends on
    it), and non-members are overwhelmingly rejected (the pruning
    that makes the pattern worth running at 100 TB)."""
    from welearn_datastack_spark.operators.relational import (
        bloom_bitmap,
        bloom_might_contain,
    )

    members = spark.range(0, 500).select(F.col("id").alias("k"))
    bitmap = bloom_bitmap(members, F.col("k"))
    assert len(bitmap) == (1 << 16) // 64
    assert members.filter(~bloom_might_contain(bitmap, F.col("k"))).count() == 0
    strangers = spark.range(1_000_000, 1_020_000).select(F.col("id").alias("k"))
    fp = strangers.filter(bloom_might_contain(bitmap, F.col("k"))).count()
    # 500 keys x 3 probes in 65536 bits -> fill ~2.3%, FPR ~ 1.2e-5;
    # allow two orders of magnitude of slack
    assert fp <= 20, fp


def test_cdc_chunks_are_edit_stable(spark):
    """THE content-defined-chunking property: inserting one token near
    the head re-chunks only the edit's neighborhood — chunks past the
    first re-synchronized boundary keep their hashes bit-for-bit
    (fixed-size blocks would lose every downstream chunk)."""
    from welearn_datastack_spark.operators.dedup import cdc_chunks

    rng = np.random.default_rng(3)
    words = [f"w{int(x)}" for x in rng.integers(0, 50, 400)]
    original = " ".join(words)
    edited = " ".join(["inserted"] + words)
    df = spark.createDataFrame(
        [(1, original), (2, edited)], "doc_id long, text string"
    )
    out = cdc_chunks(df, "doc_id", "text", window=4, divisor=16).collect()
    h1 = [r["chunk_hash"] for r in out if r["doc_id"] == 1]
    h2 = {r["chunk_hash"] for r in out if r["doc_id"] == 2}
    assert len(h1) >= 10  # ~400/16 chunks — the corpus is long enough
    shared = sum(1 for h in h1 if h in h2)
    # only the first chunk (the edit's own) may differ
    assert shared >= len(h1) - 1, (shared, len(h1))


def test_bloom_prefilter_keeps_null_key_rows(spark, tmp_path):
    """SQL equality never matches NULL, so NOT-EXISTS keeps null-key
    probe rows — but xxhash64(NULL) is NULL, which would silently drop
    them from BOTH bloom branches without the coalesce guard in
    bloom_prefilter_new_users."""
    import pandas as pd

    ev = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "ts": pd.to_datetime(["2024-01-01"] * 4),
            "user_id": pd.array([10, 10, None, 99], dtype="Int64"),
            "event_type": ["signup", "click", "click", "click"],
            "value": [0.0] * 4,
            "props": ["{}"] * 4,
        }
    )
    ev.to_parquet(tmp_path / "events.parquet", index=False)
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

    _load_groups()
    got = {
        (r["event_id"], r["user_id"])
        for r in REGISTRY["bloom_prefilter_new_users"].build(spark, str(tmp_path)).collect()
    }
    # click by signed-up user 10 excluded; null-key click and
    # never-seen user 99 both kept — exactly NOT EXISTS semantics
    assert got == {(3, None), (4, 99)}


def test_jaccard_baseline_row_budget(spark):
    """The adjudicated-quadratic exact-Jaccard baseline must never run
    unbounded at corpus scale: above the doc budget, a deterministic
    hexint(doc_id) % den sample participates (den = ceil(n/budget),
    shared with the SQL oracle); at or under budget it is a no-op."""
    from welearn_datastack_spark.operators.dedup import hexint
    from welearn_datastack_spark.plans.q_dedup import (
        _JACCARD_DOC_BUDGET,
        _sampled_baseline_docs,
        jaccard_sample_den,
    )

    # the formula, including the exact-boundary and sf1/sf3 cases
    assert jaccard_sample_den(0) == 1
    assert jaccard_sample_den(_JACCARD_DOC_BUDGET) == 1  # sf0.1: exact
    assert jaccard_sample_den(_JACCARD_DOC_BUDGET + 1) == 2
    assert jaccard_sample_den(50_000) == 10   # sf1
    assert jaccard_sample_den(150_000) == 30  # sf3
    assert jaccard_sample_den(100, budget=10) == 10

    docs = spark.range(0, 3 * _JACCARD_DOC_BUDGET).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text")
    )
    sampled, den = _sampled_baseline_docs(docs)
    assert den == 3
    expected = docs.filter(hexint(F.col("doc_id").cast("string")) % den == 0)
    n_sampled, n_expected = sampled.count(), expected.count()
    assert n_sampled == n_expected
    # the md5-derived key spreads ~uniformly: the sample is a real cut
    assert 0 < n_sampled < _JACCARD_DOC_BUDGET * 2
    under, den_under = _sampled_baseline_docs(docs.limit(100))
    assert den_under == 1 and under.count() == 100


# --- fan_out_for_compute: scan-layout-independent kernel parallelism ---


def test_fan_out_engages_on_single_split_file(spark, tmp_path):
    """A single small parquet file (one scan split) must fan out when
    the byte-per-task target demands it — the toy-layout case where a
    compute-dense kernel would otherwise run on one core."""
    from welearn_datastack_spark.sources.tables import fan_out_for_compute

    p = str(tmp_path / "one_file")
    # high-entropy pad so compression can't shrink the file below the
    # byte-per-task quanta the test relies on
    spark.range(0, 10_000).selectExpr(
        "id", "sha2(cast(id AS string), 256) AS pad"
    ).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    assert df.rdd.getNumPartitions() == 1
    fanned = fan_out_for_compute(df, bytes_per_task=16 << 10)
    got = fanned.rdd.getNumPartitions()
    assert 1 < got <= spark.sparkContext.defaultParallelism
    # pure redistribution: row content identical
    assert fanned.count() == 10_000
    assert (
        fanned.agg({"id": "sum"}).collect()[0][0]
        == df.agg({"id": "sum"}).collect()[0][0]
    )


def test_fan_out_noop_when_layout_already_parallel(spark, tmp_path):
    """On an already-parallel layout (>= byte-derived target splits)
    the guard must return the input UNCHANGED — the production-scale
    contract: no extra exchange appears in the plan."""
    from welearn_datastack_spark.sources.tables import fan_out_for_compute

    p = str(tmp_path / "many_files")
    spark.range(0, 10_000).repartition(8).write.parquet(p)
    df = spark.read.parquet(p)
    fanned = fan_out_for_compute(df, bytes_per_task=16 << 10)
    assert fanned is df  # structural no-op, not even a new plan node


def test_fan_out_noop_on_tiny_input(spark, sf_dir):
    """At test SF every table is far below one byte-per-task quantum:
    the guard is a no-op, so plan-shape pins at sf0.001 are untouched
    by construction."""
    from welearn_datastack_spark.sources.tables import (
        fan_out_for_compute,
        load_table,
    )

    df = load_table(spark, sf_dir, "embeddings")
    assert fan_out_for_compute(df) is df


def _actual_scan_partitions(spark, path: str) -> int:
    return spark.read.parquet(path).rdd.getNumPartitions()


def _estimated_scan_partitions(spark, path: str) -> int:
    from welearn_datastack_spark.sources.tables import (
        _estimate_scan_partitions,
        _size_to_bytes,
    )

    import glob as g
    import os

    files = (
        g.glob(f"{path}/*.parquet") if os.path.isdir(path) else [path]
    )
    sizes = [os.path.getsize(f) for f in files]
    return _estimate_scan_partitions(
        sizes,
        _size_to_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes")),
        _size_to_bytes(spark.conf.get("spark.sql.files.openCostInBytes", "4194304b")),
        spark.sparkContext.defaultParallelism,
    )


def test_scan_partition_estimate_matches_spark(spark, tmp_path):
    """_estimate_scan_partitions reproduces Spark's REAL packing
    (maxSplitBytes + desc-size greedy bin-pack with openCost), pinned
    against df.rdd.getNumPartitions() on three layouts — including
    the many-tiny-files case where the old Σceil(size/maxPartition)
    estimate overestimated and no-op'd the fan-out guard on exactly
    the fragmented layout it was built to fix."""
    layouts = {
        "one": 1,      # single file, one split
        "eight": 8,    # a few medium files
        "many": 33,    # many tiny files — packing folds them
    }
    for name, n in layouts.items():
        p = str(tmp_path / name)
        spark.range(0, 4_000).selectExpr(
            "id", "sha2(cast(id AS string), 256) AS pad"
        ).repartition(n).write.parquet(p)
        est = _estimated_scan_partitions(spark, p)
        actual = _actual_scan_partitions(spark, p)
        assert est == actual, (name, est, actual)


def test_estimate_models_packing_not_per_file_ceil(spark):
    """The advisor scenario: many small files must NOT estimate as
    one partition per file when Spark would bin-pack them together —
    with a low parallelism the per-core ceiling rises and tiny files
    fold many-to-a-partition."""
    from welearn_datastack_spark.sources.tables import _estimate_scan_partitions

    # 64 x 2 MB files, 4 cores: ceiling = min(128MB, (64*(2+4))/4 = 96MB)
    # -> 16 files per partition -> 4 partitions (old estimate: 64)
    est = _estimate_scan_partitions(
        [2 << 20] * 64, 128 << 20, 4 << 20, min_partition_num=4
    )
    assert est == 4, est
    # a file above the ceiling still splits: 512 MB at 32 cores ->
    # per-core ceiling (512+4)/32 = 16.125 MB -> 32 splits, one per
    # partition (split size + openCost exceeds the ceiling)
    est_big = _estimate_scan_partitions([512 << 20], 128 << 20, 4 << 20, 32)
    assert est_big == 32, est_big


def test_fan_out_engages_when_row_groups_bound_parallelism(spark, tmp_path):
    """The r10 sf30 regression shape: a file large enough that the
    planner cuts MANY byte splits, but holding FEW row groups — the
    planned partitions are empty shells and effective parallelism is
    the row-group count. The guard must cap its estimate by row
    groups and fan out (sq8 read 119 s instead of 24 s at sf30 when
    a 32-split plan sat on a 3-row-group embeddings file)."""
    import pyarrow.parquet as pq

    from welearn_datastack_spark.sources.tables import (
        _total_row_groups,
        fan_out_for_compute,
    )

    p = str(tmp_path / "few_groups")
    # one file, ONE row group, but enough bytes that the per-core
    # ceiling would cut multiple planned splits at a small task size
    spark.range(0, 60_000).selectExpr(
        "id", "sha2(cast(id AS string), 512) AS pad"
    ).coalesce(1).write.option("parquet.block.size", str(64 << 20)).parquet(p)
    df = spark.read.parquet(p)
    files = [f for f in __import__("glob").glob(f"{p}/*.parquet")]
    assert _total_row_groups(files) <= 2, [
        pq.ParquetFile(f).metadata.num_row_groups for f in files
    ]
    fanned = fan_out_for_compute(df, bytes_per_task=64 << 10)
    assert fanned is not df, "row-group-bound layout must fan out"
    assert fanned.rdd.getNumPartitions() > 2


def test_fan_out_noop_on_production_multifile_layout(spark, tmp_path):
    """The verdict's production-layout pin: on a multi-split layout
    (a directory of part files — the shape tools/gen_sf.py
    --files-per-table writes and any real cluster produces), the
    fan-out guard must (a) return its input UNCHANGED and (b) leave
    kernel plans with NO round-robin exchange, while the layout alone
    spreads the scan across cores."""
    from welearn_datastack_spark.sources.tables import fan_out_for_compute

    p = str(tmp_path / "prod_layout")
    spark.range(0, 20_000).selectExpr(
        "id AS doc_id", "repeat(sha2(cast(id AS string), 256), 4) AS text"
    ).repartition(32).write.parquet(p)
    df = spark.read.parquet(p)
    n_scan = df.rdd.getNumPartitions()
    assert n_scan > 1, "layout must provide splits for this pin"
    fanned = fan_out_for_compute(df, bytes_per_task=16 << 10)
    assert fanned is df  # structural no-op, not even a new plan node
    kernel = fanned.selectExpr("doc_id", "length(text) AS n")
    plan = kernel._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" not in plan, plan[:1200]


def test_size_conf_parser():
    from welearn_datastack_spark.sources.tables import _size_to_bytes

    assert _size_to_bytes("134217728b") == 128 << 20
    assert _size_to_bytes("128m") == 128 << 20
    assert _size_to_bytes("1g") == 1 << 30
    assert _size_to_bytes("64k") == 64 << 10
    assert _size_to_bytes("weird") == 128 << 20


def _write_docs(tmp_path, texts):
    """documents.parquet with the testdata schema, ids 0..n-1."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(texts)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * n),
            "source": pa.array(["synth"] * n),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }),
        tmp_path / "documents.parquet",
    )
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

    _load_groups()
    return REGISTRY


def test_lsh_dedup_recall_exact_dups_always_caught(spark, tmp_path):
    """Jaccard-1.0 pairs (bucket 10) have identical shingle sets,
    hence identical minhash signatures and band keys — banding recall
    at bucket 10 is EXACTLY 1.0, a theorem the harness must report."""
    dup = "the quick brown fox jumps over the lazy dog again and again"
    texts = [dup, dup, "a completely different document about spark shuffles " * 2]
    # pad the corpus so band buckets aren't trivially global
    texts += [f"filler document number {i} with some shared vocabulary words" for i in range(30)]
    reg = _write_docs(tmp_path, texts)
    rows = {r["j_bucket"]: r for r in reg["lsh_dedup_recall"].build(spark, str(tmp_path)).collect()}
    assert 10 in rows, rows
    assert rows[10]["n_true"] >= 1
    assert rows[10]["recall"] == 1.0
    for b, r in rows.items():
        assert 1 <= b <= 10
        assert 0 <= r["n_caught"] <= r["n_true"]
        assert r["sample_den"] == 1  # under the row budget: exact, unsampled


def test_lsh_dedup_recall_matches_on_testdata(spark, sf_dir):
    """On the real testdata corpus: buckets well above the (b=4, r=2)
    half-collision point s50~0.5 must show high recall, and the
    harness's candidate set is the production minhash query's."""
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

    _load_groups()
    rows = REGISTRY["lsh_dedup_recall"].build(spark, sf_dir).collect()
    assert rows, "testdata has near-dup pairs"
    high = [r for r in rows if r["j_bucket"] >= 8]
    assert high and all(r["recall"] >= 0.9 for r in high), rows


def test_dsir_weights_prefer_target_like_docs(spark, tmp_path):
    """A raw doc written in the target subset's vocabulary must
    outscore a raw doc with disjoint vocabulary, and n_grams must be
    2k-1 for a k-token doc (k unigrams + k-1 bigrams)."""
    target = "alpha beta alpha beta alpha beta alpha beta"
    texts = [target]  # doc_id 0 -> target subset (doc_id % 50 == 0)
    texts += [
        "alpha beta alpha beta alpha beta",        # doc 1: target-like
        "zebra yak xylophone walrus vulture quail",  # doc 2: disjoint
    ]
    reg = _write_docs(tmp_path, texts)
    out = {r["doc_id"]: r for r in reg["dsir_importance_weights"].build(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2}  # target docs are never scored
    assert out[1]["log_weight"] > out[2]["log_weight"]
    assert out[1]["n_grams"] == 2 * 6 - 1
    assert out[2]["n_grams"] == 2 * 6 - 1


def test_bpe_pair_merge_known_counts(spark, tmp_path):
    """Exact pair arithmetic on a constructed vocabulary: 'aaab' x2
    contributes aa:2,aa:2,ab:2; 'ab' x1 contributes ab:1 -> top pair
    aa(4), then ab(3); single-char words contribute nothing."""
    reg = _write_docs(tmp_path, ["aaab aaab ab", "x y z"])
    rows = reg["bpe_pair_merge"].build(spark, str(tmp_path)).collect()
    got = [(r["rank"], r["pair"], r["cnt"]) for r in sorted(rows, key=lambda r: r["rank"])]
    assert got == [(1, "aa", 4), (2, "ab", 3)]


def test_fan_out_mixed_layout_estimate_matches_spark(spark, tmp_path):
    """SCALE.md §21.1 pinned many-small-files and §21.5 few-huge-row-
    groups; this pins the MIXED quadrant — several files × several row
    groups each. The bin-packing estimate must match Spark's real
    partition count, the row-group cap must be NON-binding (groups ≥
    planned splits), and the guard must no-op when the layout already
    provides the parallelism."""
    import welearn_datastack_spark.sources.tables as tables

    d = tmp_path / "mixed"
    d.mkdir()
    # 6 files × 4 row groups each (1k rows per group) — the shape a
    # real cluster writes when executors flush multiple groups per file
    for i in range(6):
        t = pa.table(
            {
                "id": pa.array(range(i * 4000, (i + 1) * 4000), pa.int64()),
                "pad": [f"{j:064x}" for j in range(4000)],
            }
        )
        pq.write_table(t, str(d / f"part-{i:05d}.parquet"), row_group_size=1000)
    files = sorted(glob.glob(f"{d}/*.parquet"))
    assert tables._total_row_groups(files) == 24
    sizes = [os.path.getsize(f) for f in files]
    est = tables._estimate_scan_partitions(
        sizes,
        tables._size_to_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes")),
        tables._size_to_bytes(
            spark.conf.get("spark.sql.files.openCostInBytes", "4194304b")
        ),
        spark.sparkContext.defaultParallelism,
    )
    df = spark.read.parquet(str(d))
    actual = df.rdd.getNumPartitions()
    assert est == actual, (est, actual)
    # cap non-binding on this quadrant: plenty of row groups
    assert min(est, tables._total_row_groups(files)) == est
    # layout already parallel at a proportionate task size -> no-op
    # (ceil division: target = ceil(total/bytes_per_task) <= actual)
    total_bytes = sum(sizes)
    fanned = tables.fan_out_for_compute(
        df, bytes_per_task=-(-total_bytes // max(1, actual))
    )
    assert fanned is df


def test_fan_out_row_group_cap_deactivates_above_128_files(
    spark, tmp_path, monkeypatch
):
    """sources/tables.py deliberately skips the row-group footer scan
    above 128 files (driver-side reads; many-file layouts provide
    splits by count alone). Pin the branch BOTH ways so a refactor
    can't silently invert it, and pin the arithmetic that makes the
    skip safe: planned splits ≤ file count ≤ Σ row groups when files
    are small, so the cap could never bind there anyway."""
    import welearn_datastack_spark.sources.tables as tables

    calls: list[int] = []
    real = tables._total_row_groups

    def recording(paths):
        calls.append(len(paths))
        return real(paths)

    monkeypatch.setattr(tables, "_total_row_groups", recording)

    t = pa.table({"id": pa.array(range(200), pa.int64())})
    many = tmp_path / "many"
    many.mkdir()
    for i in range(130):
        pq.write_table(t, str(many / f"part-{i:05d}.parquet"))
    df = spark.read.parquet(str(many))
    tables.fan_out_for_compute(df, bytes_per_task=1)
    assert calls == [], "footer scan must be skipped above 128 files"
    # the safety arithmetic behind the skip
    files = sorted(glob.glob(f"{many}/*.parquet"))
    assert real(files) >= len(files)

    few = tmp_path / "few"
    few.mkdir()
    for i in range(3):
        pq.write_table(t, str(few / f"part-{i:05d}.parquet"))
    df2 = spark.read.parquet(str(few))
    tables.fan_out_for_compute(df2, bytes_per_task=1)
    assert calls and calls[-1] == 3, "cap must engage at <=128 files"


def test_fan_out_estimator_reads_min_partition_num_conf(
    spark, tmp_path, monkeypatch
):
    """Spark's maxSplitBytes uses spark.sql.files.minPartitionNum when
    set (defaultParallelism only as fallback); the guard must pass the
    SAME value into its packing estimate or the two diverge on tuned
    sessions. Pinned two ways: the argument actually handed to the
    estimator, and formula-vs-Spark agreement under the conf."""
    import welearn_datastack_spark.sources.tables as tables

    p = str(tmp_path / "conf_layout")
    spark.range(0, 4_000).selectExpr(
        "id", "sha2(cast(id AS string), 256) AS pad"
    ).repartition(33).write.parquet(p)

    captured: list[int] = []
    real_est = tables._estimate_scan_partitions

    def recording(sizes, mx, oc, n):
        captured.append(n)
        return real_est(sizes, mx, oc, n)

    monkeypatch.setattr(tables, "_estimate_scan_partitions", recording)
    old = spark.conf.get("spark.sql.files.minPartitionNum", None)
    spark.conf.set("spark.sql.files.minPartitionNum", "4")
    try:
        df = spark.read.parquet(p)
        tables.fan_out_for_compute(df, bytes_per_task=16 << 10)
        assert captured and captured[-1] == 4
        # formula agreement with Spark's real packing under the conf
        files = sorted(glob.glob(f"{p}/*.parquet"))
        sizes = [os.path.getsize(f) for f in files]
        est = real_est(
            sizes,
            tables._size_to_bytes(
                spark.conf.get("spark.sql.files.maxPartitionBytes")
            ),
            tables._size_to_bytes(
                spark.conf.get("spark.sql.files.openCostInBytes", "4194304b")
            ),
            4,
        )
        actual = spark.read.parquet(p).rdd.getNumPartitions()
        assert est == actual, (est, actual)
        # unset conf -> falls back to defaultParallelism
        spark.conf.unset("spark.sql.files.minPartitionNum")
        tables.fan_out_for_compute(spark.read.parquet(p), bytes_per_task=16 << 10)
        assert captured[-1] == spark.sparkContext.defaultParallelism
    finally:
        if old is None:
            try:
                spark.conf.unset("spark.sql.files.minPartitionNum")
            except Exception:
                pass
        else:
            spark.conf.set("spark.sql.files.minPartitionNum", old)


def test_empty_frame_is_built_in_the_jvm(spark):
    """empty_frame has createDataFrame([], schema)'s exact schema, but
    its executed plan is an empty local relation: no ExistingRDD scan,
    so no Python worker starts when it is read."""
    from pyspark.sql.types import LongType, StructField, StructType

    from welearn_datastack_spark.sources.tables import empty_frame

    for schema in (
        "keyword string, id string",
        StructType([StructField("q_id", LongType(), False), StructField("c_id", LongType())]),
    ):
        df = empty_frame(spark, schema)
        assert df.schema == spark.createDataFrame([], schema).schema
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan, plan
        assert "ExistingRDD" not in plan and "Python" not in plan, plan
        assert df.count() == 0
