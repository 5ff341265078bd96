"""Property-based tests (hypothesis) for the pure-Python kernels that
back UDF stages — invariants that hold for ANY input, complementing
the example-based tests."""

from __future__ import annotations

import re
from collections import Counter

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from welearn_datastack_spark.functions.udfs import (
    pack_slices,
    split_sentences,
    stub_embedder,
    stub_keyword_extractor,
)
from welearn_datastack_spark.plans.registry import all_queries

words = st.text(alphabet="abcdefghij", min_size=1, max_size=8)
texts = st.lists(words, min_size=0, max_size=60).map(" ".join)


@given(texts, st.integers(min_value=1, max_value=10))
@settings(max_examples=200, deadline=None)
def test_pack_slices_invariants(text, slice_length):
    out = pack_slices(text, slice_length)
    if text.strip():
        assert out, "non-empty text must produce at least one slice"
    for s in out:
        body = s.rstrip("…")
        # every slice fits the word budget (truncated slices exactly hit it)
        assert len(body.split()) <= slice_length
        assert s.strip()


@given(texts)
@settings(max_examples=200, deadline=None)
def test_split_sentences_never_empty_for_nonempty(text):
    parts = split_sentences(text)
    if text.strip():
        assert parts
        for p in parts:
            assert p.strip() == p and p


@given(st.lists(texts, min_size=1, max_size=8))
@settings(max_examples=50, deadline=None)
def test_stub_embedder_unit_norm_and_deterministic(batch):
    embed = stub_embedder()
    a = embed(batch)
    b = embed(batch)
    assert np.array_equal(a, b), "embedder must be deterministic"
    assert a.dtype == np.float32 and a.shape == (len(batch), 64)
    norms = np.linalg.norm(a, axis=1)
    for t, n in zip(batch, norms):
        has_tok = any(c.isalnum() for c in t)
        if has_tok:
            assert abs(n - 1.0) < 1e-5, "non-empty text embeds to unit norm"
        else:
            assert n == 0.0


@given(texts)
@settings(max_examples=200, deadline=None)
def test_keyword_extractor_bounded_and_sorted(text):
    kws = stub_keyword_extractor(top_k=5)(text)
    assert len(kws) <= 5
    assert len(set(kws)) == len(kws), "no duplicate keywords"
    for k in kws:
        assert k == k.lower()


@given(texts, texts)
@settings(max_examples=100, deadline=None)
def test_embedder_identical_iff_same_token_bag(t1, t2):
    import re

    embed = stub_embedder()
    v = embed([t1, t2])
    bag1 = sorted(re.findall(r"\w+", t1.lower()))
    bag2 = sorted(re.findall(r"\w+", t2.lower()))
    if bag1 == bag2:
        assert np.array_equal(v[0], v[1])


# ---------------------------------------------------------------------------
# Adversarial graph topologies for star-contraction connected components
# (operators/graph.py connected_components_star). The degenerate-fuzz
# suite covers the mega-cluster; these cover the shapes that stress the
# ROUND COUNT instead: a long path (worst-case diameter — min-label
# would need O(n) rounds), a star (best case), a barbell (two dense
# components merging through a long bridge — late cross-component
# hook), and a seeded sparse random graph (many components of mixed
# shape). Each asserts exact label parity against a Python union-find
# oracle AND that convergence lands within the O(log n) budget, so
# max_iters=25 is validated with headroom rather than assumed.
# ---------------------------------------------------------------------------

import math
import random

import pytest


def _union_find_labels(edges):
    """Min-id component label per node — the oracle."""
    parent: dict[int, int] = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in edges:
        parent[find(u)] = find(v)
    comp: dict[int, int] = {}
    for x in parent:
        comp[find(x)] = min(comp.get(find(x), x), x)
    return {x: comp[find(x)] for x in parent}


def _topology(name, n, rng):
    perm = list(range(n))
    rng.shuffle(perm)
    if name == "path":
        return [(perm[i], perm[i + 1]) for i in range(n - 1)]
    if name == "star":
        return [(perm[0], perm[i]) for i in range(1, n)]
    if name == "barbell":
        c1, c2, bridge = perm[:100], perm[100:200], perm[200:]
        edges = [(c1[i], c1[j]) for i in range(100) for j in range(i + 1, 100)]
        edges += [(c2[i], c2[j]) for i in range(100) for j in range(i + 1, 100)]
        edges += [(c1[0], bridge[0]), (bridge[-1], c2[0])]
        edges += [(bridge[i], bridge[i + 1]) for i in range(len(bridge) - 1)]
        return edges
    if name == "sparse_random":
        # ~n/2 edges over n ids: a forest-plus-cycles soup with
        # thousands of components of mixed size
        return [
            (rng.randrange(n), rng.randrange(n)) for _ in range(n // 2)
        ]
    raise AssertionError(name)


@pytest.mark.parametrize("name", ["path", "star", "barbell", "sparse_random"])
def test_cc_star_topology_labels_and_round_budget(spark, name):
    from welearn_datastack_spark.operators.graph import connected_components_star

    n = 10_000
    edges = _topology(name, n, random.Random(42))
    df = spark.createDataFrame(edges, "src: long, dst: long")
    stats: dict = {}
    # local_finish_edges=0 pins the DISTRIBUTED contraction path: the
    # r15-opt small-remainder local finish would otherwise absorb all
    # of these (<= 20k-edge) graphs and the round budget — the O(log n)
    # claim this test exists for — would go unexercised
    got = {
        r["node"]: r["component"]
        for r in connected_components_star(
            df, stats=stats, local_finish_edges=0
        ).collect()
    }
    # oracle parity: min-label per node must be exact; self-loop rows
    # in sparse_random keep their node as a singleton, matching the
    # union-find oracle (which also sees (x, x))
    want = _union_find_labels(edges)
    assert got == want
    assert not stats["local_finish"], stats
    # measured on these shapes: path 12, barbell 12, star 2,
    # sparse_random ≤ 12 — all within ceil(log2 n) + 2 = 16, leaving
    # ≥ 9 rounds of headroom under max_iters=25
    assert stats["rounds"] <= math.ceil(math.log2(n)) + 2, stats


@pytest.mark.parametrize("name", ["path", "barbell", "sparse_random"])
def test_cc_star_local_finish_parity(spark, name):
    """The r15-opt small-remainder local finish (bounded union-find
    collect once the Observation-counted edge set fits the cutoff)
    must label every topology EXACTLY like the distributed
    contraction — including a mid-loop switch (cutoff smaller than
    the initial edge count, so real contraction rounds run first)."""
    from welearn_datastack_spark.operators.graph import connected_components_star

    n = 2_000
    edges = _topology(name, n, random.Random(7))
    df = spark.createDataFrame(edges, "src: long, dst: long")
    want = _union_find_labels(edges)
    # immediate local finish (cutoff >= |E|)
    stats_imm: dict = {}
    got_imm = {
        r["node"]: r["component"]
        for r in connected_components_star(df, stats=stats_imm).collect()
    }
    assert got_imm == want
    assert stats_imm["local_finish"] and stats_imm["rounds"] == 0, stats_imm


def test_cc_star_local_finish_mid_loop_switch(spark):
    """Mid-loop switch: a cutoff BELOW the initial edge count but
    ABOVE the converged star size (= nodes - components) forces real
    contraction rounds first, then the Observation count admits the
    tail to the bounded collect. The barbell is the topology whose
    edge set actually SHRINKS through contraction (dense cliques
    collapse to stars); path/star graphs converge at their initial
    size, so a mid-loop trigger can never fire there."""
    from welearn_datastack_spark.operators.graph import connected_components_star

    edges = _topology("barbell", 2_000, random.Random(7))
    assert len(edges) > 3_000  # two 100-cliques: ~9.9k edges each
    df = spark.createDataFrame(edges, "src: long, dst: long")
    stats_mid: dict = {}
    got_mid = {
        r["node"]: r["component"]
        for r in connected_components_star(
            df, stats=stats_mid, local_finish_edges=3_000
        ).collect()
    }
    assert got_mid == _union_find_labels(edges)
    assert stats_mid["local_finish"] and stats_mid["rounds"] >= 1, stats_mid


def _ref_bpe_doc_counts(rows: list[dict]) -> dict:
    """Pure-Python Sennrich BPE, 3 merge rounds, same conventions as
    the engine: ASCII \\w+ lowercased words, pair counts weighted by
    word frequency, argmax by (cnt DESC, left, right), greedy
    left-to-right fold where a just-merged token never re-merges
    within its round."""
    vocab: Counter = Counter()
    doc_words: dict = {}
    for row in rows:
        ws = re.findall(r"[A-Za-z0-9_]+", row["text"].lower())
        doc_words[row["doc_id"]] = ws
        vocab.update(ws)
    seqs = {w: list(w) for w in vocab}
    for _ in range(3):
        pc: Counter = Counter()
        for w, n in vocab.items():
            s = seqs[w]
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += n
        if not pc:
            break
        (left, right), _cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merged = left + right
        for w, s in seqs.items():
            out = [s[0]]
            for x in s[1:]:
                if out[-1] == left and x == right:
                    out[-1] = merged
                else:
                    out.append(x)
            seqs[w] = out
    return {
        d: (len(ws), sum(len(seqs[w]) for w in ws))
        for d, ws in doc_words.items()
    }


def test_bpe_encode_corpus_matches_pure_python_reference(spark, sf_dir):
    """Every per-doc (n_words, n_bpe_tokens) must agree with the
    independent Python implementation — merge choice, tie-break, fold
    semantics, and the corpus join-back all pinned at once."""
    import pyarrow.parquet as pq

    rows = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    ref = _ref_bpe_doc_counts(rows)
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in all_queries()["bpe_encode_corpus"](spark, sf_dir).collect()
    }
    assert got == ref
