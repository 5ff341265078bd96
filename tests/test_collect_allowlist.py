"""Driver-side materialization is allowlisted, not reviewed.

Every `.collect()` / `.first()` / `.toPandas()` in the package is a
potential 100 TB failure (an unbounded frame pulled onto the driver),
so each site must be individually justified and BOUNDED — by a
structural guard, a k-row aggregate, or a LIMIT. This lint pins the
exact per-file census: adding a new collect anywhere fails CI until
the author bounds it and extends the allowlist with a justification,
instead of slipping through review.
"""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "welearn_datastack_spark"

_PAT = re.compile(r"\.(collect|first|toPandas|toLocalIterator)\(\)")

# file (relative to the package) -> (allowed site count, why each is bounded)
ALLOWED = {
    "jobs.py": (1, "final CLI report: per-state counts, <= 3 rows"),
    "operators/dedup.py": (
        2,
        "the two pre-flight disk-budget probes, 1 row each: "
        "pair_volume_guard's Σ C(bucket,2) projection and "
        "replicated_volume_guard's Σ c·(ceil(c/T)+1) projection — "
        "double aggregations to one scalar, never pair rows",
    ),
    "operators/compaction.py": (
        1,
        "1-row snapshot watermark max (r15-opt: the compaction plan's "
        "per-file listing agg became a local directory walk — no Spark "
        "job, no collect)",
    ),
    # the per-round (count, xor-hash) convergence checksum rides the
    # checkpoint materialization as an Observation (r15-opt) — the one
    # remaining graph.py fetch is the CC small-remainder finish:
    "operators/graph.py": (
        1,
        "CC local finish: edge set collected only after an Observation "
        "count certifies it <= spark.welearn.cc.localFinishEdges "
        "(default 65536) — a bounded contraction-tail fetch, union-find "
        "on the driver replaces ~1 s/round fixed-overhead tail rounds",
    ),
    "operators/relational.py": (
        1,
        "bloom bitmap: fixed 1024-word aggregate regardless of input rows",
    ),
    "operators/similarity.py": (
        3,
        "blas_topk query side (hard-capped by BLAS_MAX_QUERY_ROWS via "
        "limit+raise) + k-row centroid seeds + k x dim Lloyd partials "
        "(k bounded by stride_centroid_params)",
    ),
    "plans/oracle_check.py": (
        1,
        "the DuckDB comparator itself materializes both sides at check SF "
        "by design — test harness, not a query plan",
    ),
    "plans/q_extra.py": (
        1,
        "1-row min/max ts bounds for gap-fill range generation",
    ),
    "plans/q_ml.py": (
        3,
        "k-row centroid seed fetches for kmeans/ivf builds (k is a "
        "literal; round 15 adds ivf_grouped_topk's 8-row quantizer "
        "fetch, same discipline as ivf_ann_topk's)",
    ),
    "plans/q_text.py": (
        2,
        "1-row argmax merge winner per BPE round (kmeans centroid "
        "discipline): bpe_merge_3rounds reads rank 1 of its pinned "
        "<=10-row round checkpoint; _bpe_encoded_vocab (the encode "
        "queries' shared inducer) keeps the limit-1 TakeOrdered fetch",
    ),
    "sources/collectors.py": (
        1,
        "wholetext read of ONE feed/sitemap document for driver-side XML "
        "parse — a single fetched file, never a table",
    ),
}


def _census() -> dict[str, int]:
    counts: dict[str, int] = {}
    for f in sorted(PKG.rglob("*.py")):
        n = 0
        for line in f.read_text().splitlines():
            if "collect_list" in line or "collect_set" in line:
                continue
            if _PAT.search(line):
                n += 1
        if n:
            counts[str(f.relative_to(PKG))] = n
    return counts


def test_collect_sites_are_allowlisted():
    census = _census()
    unlisted = {f: n for f, n in census.items() if f not in ALLOWED}
    assert not unlisted, (
        f"driver-side collects in files with no allowlist entry: {unlisted} — "
        "bound the frame (guard/limit/k-row agg) and add a justified entry"
    )
    grown = {
        f: (n, ALLOWED[f][0]) for f, n in census.items() if n > ALLOWED[f][0]
    }
    assert not grown, (
        f"collect-site count grew past the allowlist (got, allowed): {grown} — "
        "every new site needs its own boundedness justification"
    )


def test_allowlist_has_no_stale_entries():
    census = _census()
    stale = [f for f in ALLOWED if f not in census]
    assert not stale, f"allowlist entries with no remaining collect site: {stale}"


def test_blas_topk_query_guard_raises(spark):
    """The similarity allowlist entry's claim, executed: blas_topk
    must refuse an over-ceiling query side instead of collecting it."""
    import pytest

    from welearn_datastack_spark.operators import similarity as S

    saved = S.BLAS_MAX_QUERY_ROWS
    S.BLAS_MAX_QUERY_ROWS = 5
    try:
        q = spark.range(6).selectExpr(
            "id AS q_id", "array(cast(id as float), 1.0F) AS qe"
        )
        c = spark.range(3).selectExpr(
            "id AS c_id", "array(cast(id as float), 1.0F) AS ce"
        )
        with pytest.raises(ValueError, match="query side exceeds 5 rows"):
            S.blas_topk(q, c, k=2)
        # at the ceiling it still works
        assert S.blas_topk(q.limit(5), c, k=2).count() == 10
    finally:
        S.BLAS_MAX_QUERY_ROWS = saved
