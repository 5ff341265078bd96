"""Second adversarial fuzz corpus — DEGENERATE shapes the main fuzz
corpus can't produce: a near-single-document corpus (single-doc CDC,
empty shingle sets), an embedding table where most vectors are
bit-identical (one mega-cluster for semantic dedup, duplicate
centroids / empty clusters for k-means+IVF, an all-same-bucket hot
LSH bucket driving the sub-split), and an EMPTY events log (zero
sessions, zero windows, empty snapshot/tail). Every targeted query
must still match its DuckDB oracle — the cross-engine contract holds
at the degenerate boundary, not just on benign data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from welearn_datastack_spark.plans.oracle_check import check_query, duckdb_conn
from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

_load_groups()

# the dedup / ANN / streaming / time-series family this corpus stresses
TARGETS = [
    "exact_dup_flags",
    "ngram_jaccard_pairs",
    "ngram_jaccard_pairs_hashed",
    "minhash_lsh_candidates",
    "minhash_lsh_candidates_hashed",
    "incremental_lsh_candidates",
    "simhash_fingerprints",
    "simhash_near_pairs",
    "dedup_clusters",
    "dedup_canonical_pick",
    "cdc_chunk_dedup",
    "duplicate_span_fraction",
    "span_removal_rewrite",
    "span_removal_rewrite_hashed",
    "duplicate_span_fraction_hashed",
    "ngram_novelty",
    "semantic_dedup_flags",
    "incremental_semantic_dedup",
    "kmeans_3iter",
    "ivf_learned_topk",
    "ivf_ann_topk",
    "lsh_ann_topk",
    "sq8_ann_topk",
    "cosine_topk",
    "lsh_near_dup_pairs",
    "embedding_dispersion",
    "snapshot_tail_read",
    "sessionization",
    "event_funnel_conversion",
    "resample_1h_gapfill",
    "salted_aggregation",
    "latest_event",
    "stream_windowed_counts",
    "stream_dedup_urls",
    "stream_session_counts",
]
TARGETS = [t for t in TARGETS if t in REGISTRY]


@pytest.fixture(scope="module")
def degen_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("fuzz_degen")

    # documents: 4 rows — one real, one single word, one empty, one
    # whitespace. CDC sees a single chunk-bearing doc; trigram
    # shingles exist for exactly one document (no pairs anywhere).
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(4, dtype=np.int64),
            "text": [
                "alpha beta gamma delta epsilon zeta eta theta iota kappa "
                "lambda mu nu xi omicron pi rho sigma tau upsilon",
                "solo",
                "",
                "   ",
            ],
            "lang": ["en", "en", "fr", "de"],
            "source": ["s0", "s1", "s0", "s1"],
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    docs.to_parquet(d / "documents.parquet", index=False)

    # embeddings: 64 vectors, 60 of them BIT-IDENTICAL — one
    # mega-cluster (semantic dedup), duplicate centroid vectors with
    # deterministic tie-breaks (k-means / IVF), every identical vector
    # in the same LSH bucket (hot-bucket sub-split), cosine exactly
    # 1.0 at the rounding boundary.
    rng = np.random.default_rng(23)
    base = rng.normal(size=64).astype(np.float32)
    vecs = np.tile(base, (64, 1))
    for i, row in zip((0, 21, 42, 63), rng.normal(size=(4, 64))):
        vecs[i] = row.astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(64, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array((np.arange(64) % 3).astype(np.int32)),
        }
    )
    pq.write_table(emb, d / "embeddings.parquet")

    # events: ZERO rows, schema intact (nanos ts like the driver's)
    events = pa.table(
        {
            "event_id": pa.array([], type=pa.int64()),
            "ts": pa.array([], type=pa.timestamp("ns")),
            "user_id": pa.array([], type=pa.int64()),
            "event_type": pa.array([], type=pa.string()),
            "value": pa.array([], type=pa.float64()),
            "props": pa.array([], type=pa.string()),
        }
    )
    pq.write_table(events, d / "events.parquet")

    # minimal relational tables so duckdb_conn can register every view
    pd.DataFrame({"r_regionkey": np.array([0], dtype=np.int64), "r_name": ["R0"]}).to_parquet(
        d / "region.parquet", index=False
    )
    pd.DataFrame(
        {
            "n_nationkey": np.array([0], dtype=np.int64),
            "n_name": ["N0"],
            "n_regionkey": np.array([0], dtype=np.int64),
        }
    ).to_parquet(d / "nation.parquet", index=False)
    pd.DataFrame(
        {
            "c_custkey": np.array([0], dtype=np.int64),
            "c_name": ["C0"],
            "c_nationkey": np.array([0], dtype=np.int64),
            "c_acctbal": np.array([1.0]),
            "c_mktsegment": ["BUILDING"],
        }
    ).to_parquet(d / "customer.parquet", index=False)
    pd.DataFrame(
        {
            "o_orderkey": np.array([0], dtype=np.int64),
            "o_custkey": np.array([0], dtype=np.int64),
            "o_orderstatus": ["O"],
            "o_totalprice": np.array([1.0]),
            "o_orderdate": pd.to_datetime(["1995-01-01"]).astype("datetime64[ms]"),
            "o_orderpriority": ["1-URGENT"],
        }
    ).to_parquet(d / "orders.parquet", index=False)
    pd.DataFrame(
        {
            "p_partkey": np.array([0], dtype=np.int64),
            "p_name": ["P0"],
            "p_brand": ["B1"],
            "p_type": ["T1"],
            "p_size": np.array([1], dtype=np.int64),
            "p_retailprice": np.array([1.0]),
        }
    ).to_parquet(d / "part.parquet", index=False)
    pd.DataFrame(
        {
            "s_suppkey": np.array([0], dtype=np.int64),
            "s_name": ["S0"],
            "s_nationkey": np.array([0], dtype=np.int64),
            "s_acctbal": np.array([1.0]),
        }
    ).to_parquet(d / "supplier.parquet", index=False)
    pd.DataFrame(
        {
            "l_orderkey": np.array([0], dtype=np.int64),
            "l_partkey": np.array([0], dtype=np.int64),
            "l_suppkey": np.array([0], dtype=np.int64),
            "l_linenumber": np.array([1], dtype=np.int32),
            "l_quantity": np.array([1.0]),
            "l_extendedprice": np.array([1000.0]),
            "l_discount": np.array([0.05]),
            "l_tax": np.array([0.02]),
            "l_returnflag": ["N"],
            "l_linestatus": ["O"],
            "l_shipdate": pd.to_datetime(["1995-06-01"]).astype("datetime64[ms]"),
        }
    ).to_parquet(d / "lineitem.parquet", index=False)
    return str(d)


@pytest.fixture(scope="module")
def degen_con(degen_dir):
    c = duckdb_conn(degen_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", TARGETS)
def test_query_matches_oracle_on_degenerate_data(spark, degen_dir, degen_con, name):
    spec = REGISTRY[name]
    issues = check_query(spark, spec, degen_dir, degen_con)
    assert not issues, f"{name}: {issues}"


BPE_QUERIES = ["bpe_merge_3rounds", "bpe_encode_corpus", "token_budget_packing_bpe"]


def _degenerate_dir(tmp_path, texts):
    d = tmp_path / "sf_degenerate"
    d.mkdir()
    pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": (["en", "fr"] * len(texts))[: len(texts)],
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(d / "documents.parquet", index=False)
    return str(d)


@pytest.mark.parametrize(
    "texts",
    [
        # no pairs at ALL: every word is a single character — round 1
        # is already dry, the pre-fix SQL emptied v2..v4 and returned
        # zero encode rows while Spark kept the vocab
        ["a b c", "x y", "a a b"],
        # merges exhaust after round 1: one distinct 2-char word —
        # round 1 collapses it to a single symbol, rounds 2-3 are dry
        ["ab ab", "ab", "ab ab ab"],
        # exhaust after round 2: one distinct 3-char word
        ["abc abc", "abc"],
    ],
    ids=["dry-round-1", "dry-round-2", "dry-round-3"],
)
def test_bpe_oracles_survive_dry_merge_rounds(spark, tmp_path, texts):
    sf_dir = _degenerate_dir(tmp_path, texts)
    con = duckdb_conn(sf_dir)
    try:
        for name in BPE_QUERIES:
            issues = check_query(spark, REGISTRY[name], sf_dir, con)
            assert not issues, f"{name}: {issues}"
            # and the encode output is genuinely non-empty: the dry
            # round must keep the vocab, not clear it
            if name == "bpe_encode_corpus":
                rows = REGISTRY[name].build(spark, sf_dir).collect()
                assert len(rows) == len(texts)
    finally:
        con.close()
