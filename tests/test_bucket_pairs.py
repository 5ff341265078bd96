"""The bucket self-pair kernel (operators/dedup.bucket_pairs) and the
guards of the queries that pair through it."""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

from welearn_datastack_spark.operators.dedup import PairVolumeExceeded, bucket_pairs


def _brute_pairs(rows, keep):
    """Every unordered within-bucket pair passing ``keep``, oriented
    by id, with the payloads aligned: {(bk, bk2, a, b, pa, pb)}."""
    by_bucket = {}
    for rid, bk, bk2, pl in rows:
        by_bucket.setdefault((bk, bk2), []).append((rid, pl))
    out = []
    for (bk, bk2), members in by_bucket.items():
        for (ia, pa), (ib, pb) in itertools.combinations(sorted(members), 2):
            if keep(bk, pa, pb):
                out.append((bk, bk2, ia, ib, pa, pb))
    return sorted(out)


def test_bucket_pairs_equals_brute_force_property(spark):
    """For seeded random bucket assignments and payloads, every chunk
    target (1 puts each member in its own chunk) and both plans — the
    un-split join when a ``max_bucket`` certificate is given and fits,
    the chunk split otherwise — ``bucket_pairs(keep=p)`` equals the
    brute-force within-bucket pairs filtered by p: each pair exactly
    once, a_id < b_id, payloads aligned with the ids. Shapes: one mega
    bucket, many sparse buckets, a few mid buckets."""
    rng = random.Random(1407)

    def keep_col(x, y):
        # symmetric, and reads a bucket column by name
        return ((x("pl") + y("pl")) % 3 != 0) | (F.col("bk") == 0)

    def keep_py(bk, pa, pb):
        return (pa + pb) % 3 != 0 or bk == 0

    for n, n_buckets in ((40, 1), (30, 12), (60, 5)):
        rows = [
            (i, rng.randrange(n_buckets), rng.randrange(2), rng.randrange(100))
            for i in rng.sample(range(1000), n)
        ]
        df = spark.createDataFrame(rows, ["id", "bk", "bk2", "pl"])
        sizes = {}
        for _, bk, bk2, _ in rows:
            sizes[(bk, bk2)] = sizes.get((bk, bk2), 0) + 1
        true_max = max(sizes.values())
        for keep, expected in (
            (keep_col, _brute_pairs(rows, keep_py)),
            (None, _brute_pairs(rows, lambda *_: True)),
        ):
            assert expected
            for ct, max_bucket in itertools.product((1, 2, 3, 256), (true_max, None)):
                out = bucket_pairs(
                    df, ["bk", "bk2"], "id", ["pl"],
                    keep=keep, max_bucket=max_bucket, chunk_target=ct,
                )
                got = sorted(
                    (r["bk"], r["bk2"], r["a_id"], r["b_id"], r["a_pl"], r["b_pl"])
                    for r in out.collect()
                )
                assert got == expected, (n, n_buckets, ct, max_bucket, keep)


def test_lsh_near_dup_pairs_guard_fails_before_pairing(spark, sf_dir):
    """lsh_near_dup_pairs carries the replicated-row disk guard: a tiny
    spark.welearn.pairGuard.budget raises PairVolumeExceeded while the
    query is being BUILT — the builder never returns a frame, so no
    pair job can run."""
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

    _load_groups()
    spark.conf.set("spark.welearn.pairGuard.budget", "1")
    try:
        with pytest.raises(PairVolumeExceeded) as ei:
            REGISTRY["lsh_near_dup_pairs"].build(spark, sf_dir)
    finally:
        spark.conf.unset("spark.welearn.pairGuard.budget")
    assert "replicated_volume_guard" in str(ei.value)
    assert ei.value.budget_bytes == 1 < ei.value.projected_bytes
    # under the default budget the same build succeeds
    assert REGISTRY["lsh_near_dup_pairs"].build(spark, sf_dir).columns == [
        "a_id", "b_id", "cosine"
    ]


# --- un-split vs chunk-split pair-join equivalence, property-tested --


def test_direct_and_chunked_self_pairs_equivalent_property(spark):
    """For ANY bucket assignment and payload, bucket_pairs' un-split
    join (a max_bucket certificate that fits the chunk target) and its
    chunk split (no certificate, at several chunk targets, including 1
    — every member its own chunk) must emit the identical unordered
    pair set with identically aligned payloads. Deterministic
    pseudo-random fixtures spanning the shapes that matter: singleton
    buckets, one mega bucket, many mid buckets."""
    import random as _r

    from welearn_datastack_spark.operators.dedup import bucket_pairs

    rng = _r.Random(1407)
    for trial in range(3):
        n = [40, 25, 60][trial]
        n_buckets = [1, 12, 5][trial]  # mega / sparse / mid
        rows = [
            (i, rng.randrange(n_buckets), f"p{i % 7}") for i in range(n)
        ]
        df = spark.createDataFrame(rows, ["id", "bk", "pl"])

        def canon(out):
            return sorted(
                (r["bk"], r["a_id"], r["b_id"], r["a_pl"], r["b_pl"])
                for r in out.collect()
            )

        base = canon(bucket_pairs(df, ["bk"], "id", ["pl"], max_bucket=n))
        assert base and all(a < b for _, a, b, _, _ in base)
        for ct in (1, 3, 256):
            got = canon(bucket_pairs(df, ["bk"], "id", ["pl"], chunk_target=ct))
            assert got == base, f"trial {trial}, chunk_target {ct}"
