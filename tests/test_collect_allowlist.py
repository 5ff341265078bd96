"""Driver-side materialization and settable knobs are allowlisted,
not reviewed.

Every `.collect()` / `.first()` / `.toPandas()` in the package is a
potential 100 TB failure (an unbounded frame pulled onto the driver),
so each site must be individually justified and BOUNDED — by a
structural guard, a k-row aggregate, or a LIMIT. This lint pins the
exact per-file census: adding or removing a collect anywhere fails CI
until the allowlist entry is updated with a justification for every
remaining site, instead of slipping through review.

Every environment variable or ``spark.welearn.*`` conf read by the
package, ``bench.py`` or ``tools/`` is a knob someone must know to
set. The knob census pins that set too: a knob needs one line saying
why it must be settable, and a value nobody sets is a constant.
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
        1,
        "_volume_guard's pre-flight disk-budget probe, 1 row: the "
        "projected units (pair_volume_guard's Σ C(bucket,2) or "
        "replicated_volume_guard's Σ c·(ceil(c/T)+1)) and the max "
        "bucket count — a double aggregation to one row, never pair rows",
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
        "count certifies it <= the local_finish_edges argument "
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
        1,
        "_ivf_lists_probes' quantizer fetch: the 8 IVF centroid rows "
        "selected by the literal _CENTROID_IDS, shared by ivf_ann_topk "
        "and ivf_grouped_topk",
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
    moved = {
        f: (n, ALLOWED[f][0]) for f, n in census.items() if n != ALLOWED[f][0]
    }
    assert not moved, (
        f"collect-site count differs from the allowlist (got, allowed): {moved} "
        "— every site needs its own boundedness justification, and an "
        "entry must not grant more sites than the file has"
    )


def test_allowlist_has_no_stale_entries():
    census = _census()
    stale = [f for f in ALLOWED if f not in census]
    assert not stale, f"allowlist entries with no remaining collect site: {stale}"


ROOT = PKG.parent

# knob -> why it must be settable
KNOBS = {
    "SPARK_GRAFT_CPUS": "deployment: core count of local[N]",
    "SPARK_GRAFT_DRIVER_MEM": "deployment: driver JVM heap",
    "SPARK_GRAFT_WAREHOUSE": "deployment: managed-table location",
    "SPARK_GRAFT_UI": "deployment: Spark UI, which bench.py and traced "
    "perfbench runs read stage metrics from",
    "SPARK_GRAFT_SF_DIR": "deployment: the corpus bench.py runs on",
    "SPARK_GRAFT_BENCH_QUERIES": "A/B recipe: the query family under test",
    "SPARK_GRAFT_BENCH_RUNS": "A/B recipe and scale rehearsals: pass count",
    "SPARK_GRAFT_BENCH_ARTIFACT": "A/B recipe and tests: keep each run's "
    "artifact out of the tracked bench_runs/ series",
    "spark.welearn.pairGuard.mode": "the pair guard's error message names "
    "mode=sample as the remedy for a corpus over budget",
    "spark.welearn.pairGuard.budget": "the pair guard's error message names "
    "it as the remedy; tests set tiny budgets to drive each branch",
}

# Spark's own settings, read only to resolve things the way Spark
# does (the guard's spill volume) — not knobs of this project
SPARK_SETTINGS = {"SPARK_LOCAL_DIRS"}

_ENV_READ = re.compile(
    r"""os\.(?:environ\.get|environ\.setdefault|getenv)\(\s*["']([A-Za-z0-9_]+)["']"""
    r"""|os\.environ\[\s*["']([A-Za-z0-9_]+)["']\s*\](?!\s*=[^=])"""
)
_CONF_READ = re.compile(
    r"""(?:conf|getConf\(\))\.get\(\s*["'](spark\.welearn\.[\w.]+)["']"""
)


def _knob_census() -> dict[str, list[str]]:
    """knob -> the files (relative to the repo) that read it."""
    files = [*PKG.rglob("*.py"), ROOT / "bench.py", *(ROOT / "tools").glob("*.py")]
    census: dict[str, set[str]] = {}
    for f in files:
        text = f.read_text()
        for m in [*_ENV_READ.finditer(text), *_CONF_READ.finditer(text)]:
            name = next(g for g in m.groups() if g)
            census.setdefault(name, set()).add(str(f.relative_to(ROOT)))
    return {k: sorted(v) for k, v in sorted(census.items())}


def test_knobs_are_allowlisted():
    census = {k: v for k, v in _knob_census().items() if k not in SPARK_SETTINGS}
    unlisted = {k: v for k, v in census.items() if k not in KNOBS}
    assert not unlisted, (
        f"knobs read with no allowlist entry (knob: files): {unlisted} — "
        "make the value a constant, or add an entry saying who sets it"
    )
    stale = [k for k in KNOBS if k not in census]
    assert not stale, f"allowlisted knobs that nothing reads: {stale}"


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
