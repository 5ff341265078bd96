"""The candidate→verify top-k kernel (operators/similarity.bucket_topk)
and the plans of the queries that rank through it."""

from __future__ import annotations

import itertools
import math
import random
from decimal import ROUND_HALF_UP, Decimal

import pytest

from welearn_datastack_spark.operators.similarity import bucket_topk
from welearn_datastack_spark.plans.registry import all_queries


def _cos6(a, b):
    """Cosine with the kernel's fold order (sequential double sums,
    dot / (|a|·|b|)), rounded HALF_UP to 6 digits on the shortest
    decimal rendering of the double, as Spark's ``round`` does."""
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += float(x) * float(y)
        na += float(x) * float(x)
        nb += float(y) * float(y)
    raw = dot / (math.sqrt(na) * math.sqrt(nb))
    return float(Decimal(repr(raw)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def _brute_topk(probes, corpus, k, on, grouped):
    """{(q_id, c_id, g or None, cosine, rnk)} by brute force over the
    same candidate definition: same bucket when ``on``, else all."""
    out = set()
    for q_id, qe, qbk in probes:
        cand = [
            (c_id, g, _cos6(qe, ce))
            for c_id, ce, cbk, g in corpus
            if not on or cbk == qbk
        ]
        by_hit = sorted(cand, key=lambda t: (-t[2], t[0]))
        if grouped:
            best = {}
            for c_id, g, s in by_hit:
                best.setdefault(g, (c_id, g, s))
            ranked = sorted(best.values(), key=lambda t: (-t[2], t[1]))
        else:
            ranked = by_hit
        for rnk, (c_id, g, s) in enumerate(ranked[:k], 1):
            out.add((q_id, c_id, g if grouped else None, s, rnk))
    return out


def test_bucket_topk_equals_brute_force_property(spark):
    """Seeded small-integer vectors with planted duplicates (exact
    copies, and probes that copy corpus vectors), so cosine ties are
    common and the c_id and group tie-breaks decide the ranking. For
    bucket keys () and ("bk",), no group and group "g", and k of 1, 3
    and more than any candidate set, the kernel equals brute force:
    same rows, scores and ranks."""
    rng = random.Random(2104)

    def vec():
        while True:
            v = [float(rng.randint(-2, 3)) for _ in range(4)]
            if any(v):
                return v

    base = [vec() for _ in range(8)]
    corpus = [
        (c_id, rng.choice(base) if rng.random() < 0.7 else vec(),
         rng.randrange(3), rng.randrange(4))
        for c_id in rng.sample(range(1000), 40)
    ]
    probes = [
        (q_id, rng.choice(base) if q_id % 2 else vec(), rng.randrange(4))
        for q_id in range(7)
    ]
    # the data must exercise the tie-breaks: some probe sees two
    # candidates with equal 6-digit scores
    assert any(
        len({c for c, *_ in corpus}) > len({_cos6(qe, ce) for _, ce, *_ in corpus})
        for _, qe, _ in probes
    )
    p_df = spark.createDataFrame(probes, "q_id long, qe array<float>, bk int")
    c_df = spark.createDataFrame(corpus, "c_id long, ce array<float>, bk int, g int")
    for on, group_col, k in itertools.product(((), ("bk",)), (None, "g"), (1, 3, 50)):
        out = bucket_topk(
            p_df.select("q_id", "qe", *on), c_df, k=k, on=on, group_col=group_col
        )
        got = {
            (r["q_id"], r["c_id"], r[group_col] if group_col else None, r["cosine"], r["rnk"])
            for r in out.collect()
        }
        expected = _brute_topk(probes, corpus, k, on, group_col is not None)
        assert expected
        assert got == expected, (on, group_col, k)


def test_grouped_vector_search_does_not_broadcast_the_corpus(spark, sf_dir):
    """The group column rides through the scoring join: the only
    broadcast is the bounded query set's nested loop, never a hash
    join that brings the corpus's group labels back."""
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

    _load_groups()
    df = REGISTRY["grouped_vector_search"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "BroadcastHashJoin" not in plan, plan


def test_ivf_grouped_topk_recall_and_exact_scoring(spark, sf_dir):
    """Two invariants of the bucketed grouped serve path vs the
    brute-force grouped_vector_search (same vec_id<10 / >=10 split,
    same group column, same k_groups=3):

    - scoring is EXACT on probed candidates: any (q_id, c_id) the IVF
      path returns must carry the identical rounded cosine the brute
      force computed — IVF approximates candidate COVERAGE, never the
      score;
    - coverage is real: recall@3-groups stays above the floor the
      2-probe/8-list geometry implies (measured 0.433 on the fixture;
      0.30 leaves regeneration margin without ever passing on a
      broken probe join, which reads ~0.1 = chance)."""
    queries = all_queries()
    bf = queries["grouped_vector_search"](spark, sf_dir).collect()
    iv = queries["ivf_grouped_topk"](spark, sf_dir).collect()
    assert iv, "ivf_grouped_topk returned no rows"

    bf_cos = {(r["q_id"], r["c_id"]): r["cosine"] for r in bf}
    bf_groups: dict = {}
    iv_groups: dict = {}
    for r in bf:
        bf_groups.setdefault(r["q_id"], set()).add(r["label"])
    for r in iv:
        iv_groups.setdefault(r["q_id"], set()).add(r["label"])
        assert len(iv_groups[r["q_id"]]) <= 3
        key = (r["q_id"], r["c_id"])
        if key in bf_cos:
            assert r["cosine"] == pytest.approx(bf_cos[key], abs=1e-6)

    hits = sum(len(bf_groups[q] & iv_groups.get(q, set())) for q in bf_groups)
    total = sum(len(v) for v in bf_groups.values())
    assert hits / total >= 0.30, f"grouped recall {hits / total:.3f}"
