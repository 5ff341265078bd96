"""Dedup query group — exact, n-gram Jaccard, MinHash+LSH, SimHash
over the ``documents`` table (LLM-data-pipeline operators; see
operators/dedup.py for the scale design notes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    exact_dup_flags,
    hashed_shingles,
    hexint,
    jaccard_pairs,
    lsh_band_keys,
    lsh_candidates,
    minhash_signatures,
    pair_volume_guard,
    simhash,
    star_edges,
    word_shingles,
)
from ..sources.tables import fan_out_for_compute, load_table
from .registry import register


def _minhash_worst_case_pairs(docs: DataFrame, n_bands: int) -> int:
    """Free upper bound for pair_volume_guard: every doc in one bucket
    per band → n_bands · C(n, 2). One COUNT(*) scalar (the same
    COUNT-driven sizing _sampled_baseline_docs uses); when even this
    fits the disk budget the guard's Σ C(c,2) probe is skipped, so
    small-SF gates and the sf0.1 bench pay nothing for the guard."""
    n = docs.count()
    return n_bands * (n * (n - 1) // 2)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table, fanned out for the shingle/hash kernels
    downstream: every query in this module does O(tokens)-per-row
    work right after the scan, so a single-split toy layout must not
    serialize that stage onto one core (fan_out_for_compute is a
    structural no-op on an already-parallel layout — see
    sources/tables.py)."""
    return fan_out_for_compute(load_table(spark, sf_dir, "documents"))

# DuckDB twin of operators/dedup.py:hexint — md5 first 15 hex chars → int63
_HEXINT = (
    "list_reduce([strpos('0123456789abcdef', c) - 1"
    " for c in regexp_extract_all(substr(md5({x}), 1, 15), '.')],"
    " (a, b) -> a * 16 + b)"
)

# DuckDB twin of operators/dedup.py:word_shingles (trigrams, distinct).
# Trigrams, not bigrams: with a small vocabulary, bigram buckets collide
# so hard that pair generation degenerates toward |D|² — the shingle
# width is the selectivity knob that keeps the equi-join bucket-local.
_SHINGLES_CTE = """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS shingle
  FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
  WHERE len(t) >= 3
)
"""


@register(
    "exact_dup_flags",
    """
    SELECT doc_id,
           doc_id != MIN(doc_id) OVER (
             PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
           ) AS is_dup
    FROM documents
    """,
    doc="Dedup: exact content-hash duplicate flags (hash-groupBy; "
    "min-id row is canonical)",
)
def exact_dup_flags_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return exact_dup_flags(docs, "doc_id", "text")


# --- row-budget guard for the adjudicated-quadratic exact baselines ---
# The all-pairs Jaccard queries are kept deliberately as the exact
# references the LSH family is verified against, but their candidate
# generation is quadratic per shared-shingle bucket (measured 12-14x
# per decade; 458 s of the sf3 bench between the two variants). So the
# baseline auto-samples: above _JACCARD_DOC_BUDGET documents, only
# docs with hexint(doc_id) % den == 0 participate, den = ceil(n /
# budget) — deterministic, cross-engine (the SQL twin computes the
# same den from COUNT(*) and the same md5-derived key), and SURFACED
# in the output as a constant `sample_den` column (1 = exact, no
# sampling). The budget pins the baseline's cost at roughly the sf0.1
# level forever; anyone needing exact all-pairs above it should use
# minhash_lsh_candidates + jaccard on the candidate set instead.
_JACCARD_DOC_BUDGET = 5000


def jaccard_sample_den(n_docs: int, budget: int = _JACCARD_DOC_BUDGET) -> int:
    """Sampling modulus for the exact-Jaccard baseline: 1 (no
    sampling) up to ``budget`` docs, else ceil(n/budget)."""
    import math

    return max(1, math.ceil(max(n_docs, 1) / float(budget)))


# DuckDB twin of jaccard_sample_den over COUNT(*) — literal-shared so
# both engines agree on the sampled doc set at every SF.
_JACCARD_DEN_CTE = f"""
den AS (
  SELECT GREATEST(1, CAST(ceil(COUNT(*) / {_JACCARD_DOC_BUDGET}.0) AS BIGINT)) AS d
  FROM documents
)"""

# _SHINGLES_CTE over the SAMPLED doc set (same trigram logic).
_SAMPLED_SHINGLES_CTE = (
    "WITH "
    + _JACCARD_DEN_CTE
    + f"""
, sdocs AS (
  SELECT doc_id, text FROM documents, den
  WHERE {_HEXINT.format(x="CAST(doc_id AS VARCHAR)")} % den.d = 0
), toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS t FROM sdocs
), sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS shingle
  FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
  WHERE len(t) >= 3
)
"""
)

# shared by the string-keyed query and its hashed-shuffle-key variant:
# the hashed pipeline produces IDENTICAL output (xxhash64 is injective
# on this corpus's shingle set — any collision would shift a count),
# so both gate against the same string-keyed SQL.
_JACCARD_ORACLE = (
    _SAMPLED_SHINGLES_CTE
    + """
    , sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT a_id, b_id, jaccard, (SELECT CAST(d AS INT) FROM den) AS sample_den
    FROM (
      SELECT c.a_id, c.b_id,
             ROUND(c.common / (sa.sz + sb.sz - c.common), 6) AS jaccard
      FROM common c
      JOIN sizes sa ON sa.doc_id = c.a_id
      JOIN sizes sb ON sb.doc_id = c.b_id
    ) WHERE jaccard >= 0.15
    """
)


def _sampled_baseline_docs(docs: DataFrame) -> tuple[DataFrame, int]:
    """Apply the exact-baseline row budget: returns (docs, den) where
    docs is filtered to the hexint(doc_id) % den == 0 sample (a no-op
    when den == 1). The count() is one scalar to the driver — the
    same COUNT(*)-driven sizing the LSH/semantic families use."""
    from ..operators.dedup import hexint

    den = jaccard_sample_den(docs.count())
    if den > 1:
        docs = docs.filter(hexint(F.col("doc_id").cast("string")) % den == 0)
    return docs, den


def _register_jaccard(name: str, hashed_keys: bool, doc: str) -> None:
    """Register one exact n-gram Jaccard baseline: word-trigram
    shingles of the row-budget doc sample, optionally xxhash64'd to
    8-byte shuffle keys (:func:`hashed_shingles`) before the shingle
    exchange. Both rows gate against the same string-keyed SQL: the
    hashed keys leave per-doc sizes, bucket memberships and pair
    counts unchanged."""

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs, den = _sampled_baseline_docs(_docs(spark, sf_dir))
        sh = word_shingles(docs, "doc_id", "text", n=3)
        if hashed_keys:
            sh = hashed_shingles(sh, "doc_id")
        # guard_mode pinned: this query's oracle does not model member
        # sampling, so a session-level mode=sample must not apply here
        return jaccard_pairs(
            sh, "doc_id", threshold=0.15, guard_mode="fail"
        ).withColumn("sample_den", F.lit(den).cast("int"))

    build.__name__ = f"{name}_q"
    register(name, _JACCARD_ORACLE, doc=doc)(build)


_register_jaccard(
    "ngram_jaccard_pairs",
    hashed_keys=False,
    doc="Dedup: word-trigram Jaccard near-dup pairs ≥ 0.15 (pairs "
    "generated per shingle bucket — equi-join, never cross product). "
    "ADJUDICATED QUADRATIC BASELINE — kept as the exact reference the "
    "LSH family verifies against, with a corpus-adaptive row budget: "
    "above 5000 documents only the deterministic hexint(doc_id) % den "
    "sample participates (den = ceil(n/5000), shared with the SQL "
    "twin and surfaced as the sample_den column), so the exact "
    "baseline can never accidentally dominate a corpus-scale run.",
)

_register_jaccard(
    "ngram_jaccard_pairs_hashed",
    hashed_keys=True,
    doc="Hashed-shuffle-key variant of ngram_jaccard_pairs: shingle "
    "strings are xxhash64'd to 8-byte longs MAP-SIDE before the "
    "shingle-bucket exchange (operators/dedup.hashed_shingles) — a "
    "~4x shuffle-byte cut at trigram width, ~7x at 8-token width, on "
    "the dominant dedup shuffle at 100 TB. Output is identical to "
    "the string-keyed query (same oracle, full hash gate): per-doc "
    "sizes, bucket memberships, and pair counts survive hashing "
    "because xxhash64 is collision-free on any realistic shingle "
    "set (~2^-64 per pair). Same adjudicated-baseline row budget as "
    "the string variant (sample_den column).",
)


# Shared by the string-keyed LSH query and its narrow-key variant:
# candidate pairs depend only on band-key EQUALITY, and the hexint
# prehash reproduces the string path's signatures exactly
# (pmod(hexint(s), p) == hexint(s) % p), so both pipelines emit the
# identical pair set and gate against this one SQL.
_MINHASH_BANDS_CTES = f"""
    , base AS (
      SELECT doc_id, {_HEXINT.format(x="shingle")} % 2147483647 AS h31 FROM sh
    ), hashes AS (
      SELECT doc_id, seed,
             ((2 * seed + 1) * h31 + 7919 * (seed + 1)) % 2147483647 AS h
      FROM base, unnest(generate_series(0, 7)) AS s(seed)
    ), sigs AS (
      SELECT doc_id, seed, MIN(h) AS mh FROM hashes GROUP BY doc_id, seed
    ), bands AS (
      SELECT doc_id, CAST(seed // 2 AS INT) AS band,
             md5(string_agg(CAST(mh AS VARCHAR), '-' ORDER BY seed)) AS band_key
      FROM sigs GROUP BY doc_id, CAST(seed // 2 AS INT)
    )
"""

_MINHASH_LSH_ORACLE = (
    _SHINGLES_CTE
    + _MINHASH_BANDS_CTES
    + """
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    """
)

# Fixed tiny budget so the guard's SAMPLE branch engages at every
# driver SF (sf0.001: 152 probe pairs x 12 B = 1,824 B; sf0.01:
# 197 x 12 = 2,364 B; both > 600 -> keep = 2) — the point of the
# query is to hash-gate the fallback itself, so it must actually run.
_SAMPLED_PAIR_BUDGET_BYTES = 600

# DuckDB twin of pair_volume_guard's sample branch (operators/
# dedup.py): the same Σ C(c,2) probe over the band buckets, the same
# den = ceil(projected / budget), keep = ceil(sqrt(den)) arithmetic
# (isqrt(den-1)+1 == CEIL(SQRT(den)) for every den >= 1; all values
# at the gated SFs are exact in doubles), and the same
# hexint(doc_id) % keep == 0 member filter BEFORE pair generation.
# The byte factor is interpolated from the SHARED module constant
# (operators/dedup.PAIR_GUARD_BYTES_PER_PAIR) — only the keep FORMULA
# itself is duplicated as SQL, and pair_volume_guard's docstring pins
# that coupling.
from ..operators.dedup import PAIR_GUARD_BYTES_PER_PAIR as _BPP  # noqa: E402

_MINHASH_SAMPLED_ORACLE = (
    _SHINGLES_CTE
    + _MINHASH_BANDS_CTES
    + f"""
    , probe AS (
      SELECT COALESCE(SUM(c * (c - 1) // 2), 0) AS pairs
      FROM (SELECT COUNT(*) AS c FROM bands GROUP BY band, band_key)
    ), keepv AS (
      SELECT CASE WHEN pairs * {_BPP} <= {_SAMPLED_PAIR_BUDGET_BYTES} THEN 1
                  ELSE CAST(CEIL(SQRT(CEIL(
                    pairs * {_BPP}.0 / {_SAMPLED_PAIR_BUDGET_BYTES}))) AS BIGINT)
             END AS keep
      FROM probe
    ), sbands AS (
      SELECT b.* FROM bands b, keepv
      WHERE {_HEXINT.format(x="CAST(doc_id AS VARCHAR)")} % keep = 0
    )
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM sbands a JOIN sbands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    """
)


def _register_minhash(
    name: str, sql: str, narrow_keys: bool, sampled: bool, doc: str
) -> None:
    """Register one MinHash (8 perms) + LSH (4 bands × 2 rows)
    candidate-pair query. ``narrow_keys`` takes the gated 8-byte-key
    pipeline (cross-engine hashed trigram shingles → prehashed minhash
    signatures → long band keys) instead of string shingles and md5
    band keys; ``sampled`` runs the pair-volume guard in
    mode='sample' under a fixed tiny budget instead of the full-set
    mode='fail' with its free worst-case hint."""

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = _docs(spark, sf_dir)
        if narrow_keys:
            sh = hashed_shingles(
                word_shingles(docs, "doc_id", "text", n=3), "doc_id",
                cross_engine=True,
            )
            sigs = minhash_signatures(sh, "doc_id", n_hashes=8, prehashed=True)
            bands = lsh_band_keys(
                sigs, "doc_id", rows_per_band=2, long_keys=True,
                cross_engine=True,
            )
        else:
            sh = word_shingles(docs, "doc_id", "text", n=3)
            sigs = minhash_signatures(sh, "doc_id", n_hashes=8)
            bands = lsh_band_keys(sigs, "doc_id", rows_per_band=2)
        if sampled:
            guard = dict(
                budget_bytes=_SAMPLED_PAIR_BUDGET_BYTES, mode="sample",
                # the probe ALWAYS executes here (600 B budget) — persist
                # the band frame across probe + real run so the minhash
                # pipeline is computed once, not twice (round-12 ADVICE)
                persist_on_probe=True,
            )
        else:
            guard = dict(
                worst_case_pairs=_minhash_worst_case_pairs(docs, n_bands=4),
                # pinned: this query's oracle is the FULL candidate set —
                # a session-level mode=sample would silently break hash
                # parity (the sampled doctrine lives in the _sampled row)
                mode="fail",
            )
        bands = pair_volume_guard(bands, ["band", "band_key"], "doc_id", **guard)
        return lsh_candidates(bands, "doc_id")

    build.__name__ = f"{name}_q"
    register(name, sql, doc=doc)(build)


_register_minhash(
    "minhash_lsh_candidates",
    _MINHASH_LSH_ORACLE,
    narrow_keys=False,
    sampled=False,
    doc="Dedup: MinHash (8 perms) + LSH banding (4 bands × 2 rows) "
    "candidate pairs — shingle→minhash→band→bucket-join",
)

_register_minhash(
    "minhash_lsh_candidates_hashed",
    # full hash gate: the hexint prehash feeds the SAME h31 the
    # string-keyed path computes (pmod(hexint(s), p) == hexint(s) % p),
    # so signatures are identical; band keys are an injective re-key
    # and pairs depend only on key equality → the candidate set is
    # bit-identical to the string-keyed query's.
    _MINHASH_LSH_ORACLE,
    narrow_keys=True,
    sampled=False,
    doc="Narrow-shuffle-key variant of minhash_lsh_candidates: 8-byte "
    "longs replace shingle strings before the signature aggregation "
    "AND 8-byte band keys replace 32-char md5 strings in the "
    "band-bucket exchange — the two dedup-pipeline shuffles at "
    "100 TB. Keys here are the cross-engine hexint (md5-derived) so "
    "the full hash gate applies; production would flip "
    "cross_engine=False for builtin xxhash64 keys (same shape, same "
    "widths, no md5 round — equivalence-tested against the string "
    "path in tests).",
)

_register_minhash(
    "minhash_lsh_candidates_sampled",
    _MINHASH_SAMPLED_ORACLE,
    narrow_keys=True,
    sampled=True,
    doc="The pair-volume guard's SAMPLE fallback as a first-class "
    "hash-gated query (round 12, closing the loop on the round-11 "
    "sf100 disk-death finding): the same minhash/banding pipeline as "
    "minhash_lsh_candidates, but pair_volume_guard runs in "
    "mode='sample' under a deliberately tiny fixed budget (600 B) so "
    "the row-budget member-sampling doctrine ENGAGES at every driver "
    "SF — bucket members are kept at hexint(doc_id) % keep == 0 with "
    "keep = ceil(sqrt(ceil(12·ΣC(c,2)/budget))), bounding materialized "
    "pair volume to ≤ budget even against a single mega-bucket. The "
    "DuckDB twin replicates the probe, the keep arithmetic, and the "
    "member filter in SQL, so the fallback's exact output — not just "
    "its bound — is cross-engine verified. At 100 TB this is the path "
    "a pair-materializing diagnostic takes on a collision-heavy "
    "corpus instead of dying on shuffle disk (SCALE.md §22.6, §23.1).",
)


@register(
    "incremental_lsh_candidates",
    _SHINGLES_CTE
    + f"""
    , base AS (
      SELECT doc_id, {_HEXINT.format(x="shingle")} % 2147483647 AS h31 FROM sh
    ), hashes AS (
      SELECT doc_id, seed,
             ((2 * seed + 1) * h31 + 7919 * (seed + 1)) % 2147483647 AS h
      FROM base, unnest(generate_series(0, 7)) AS s(seed)
    ), sigs AS (
      SELECT doc_id, seed, MIN(h) AS mh FROM hashes GROUP BY doc_id, seed
    ), bands AS (
      SELECT doc_id, CAST(seed // 2 AS INT) AS band,
             md5(string_agg(CAST(mh AS VARCHAR), '-' ORDER BY seed)) AS band_key
      FROM sigs GROUP BY doc_id, CAST(seed // 2 AS INT)
    )
    SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS existing_id
    FROM bands n JOIN bands o
      ON n.band = o.band AND n.band_key = o.band_key
    WHERE n.doc_id % 5 = 0 AND o.doc_id % 5 != 0
    """,
    doc="Incremental dedup probe (operators/dedup.py "
    "incremental_lsh_candidates) — the PRODUCTION ingest shape: the "
    "corpus band table is persisted and each new batch probes it "
    "with one equi-join, instead of re-pairing the whole corpus per "
    "ingest. The gate splits "
    "documents deterministically (mod-5 = the incoming batch, rest = "
    "the stored corpus), computes band keys for both sides with the "
    "standard minhash pipeline, and hash-checks the probe result "
    "against the same band join in SQL — band keys are per-document, "
    "so computing them per-slice or over the full corpus is "
    "identical.",
)
def incremental_lsh_candidates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import incremental_lsh_candidates

    docs = _docs(spark, sf_dir)

    def bands_of(d: DataFrame) -> DataFrame:
        sh = word_shingles(d, "doc_id", "text", n=3)
        sigs = minhash_signatures(sh, "doc_id", n_hashes=8)
        return lsh_band_keys(sigs, "doc_id", rows_per_band=2)

    stored = bands_of(docs.filter(F.col("doc_id") % 5 != 0))
    incoming = bands_of(docs.filter(F.col("doc_id") % 5 == 0))
    return incremental_lsh_candidates(stored, incoming, "doc_id")


def _register_recall(name: str, n_hashes: int, rows_per_band: int, doc: str) -> None:
    """Register one parameterization of the dedup-recall harness —
    the empirical validator for :func:`pipeline.ingest_increment.
    size_lsh_params`: the sizing helper picks (n_hashes,
    rows_per_band) from the s50 formula, this family MEASURES the
    per-decile recall the choice actually delivers on the row-budget
    sample, at sf0.1 cost regardless of corpus size."""
    sql = (
        _SAMPLED_SHINGLES_CTE
        + f"""
    , sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), truth AS (
      SELECT c.a_id, c.b_id,
             CAST((10 * c.common) // (sa.sz + sb.sz - c.common) AS INT) AS j_bucket
      FROM common c
      JOIN sizes sa ON sa.doc_id = c.a_id
      JOIN sizes sb ON sb.doc_id = c.b_id
      WHERE (10 * c.common) // (sa.sz + sb.sz - c.common) >= 1
    ), base AS (
      SELECT doc_id, {_HEXINT.format(x="shingle")} % 2147483647 AS h31 FROM sh
    ), hashes AS (
      SELECT doc_id, seed,
             ((2 * seed + 1) * h31 + 7919 * (seed + 1)) % 2147483647 AS h
      FROM base, unnest(generate_series(0, {n_hashes - 1})) AS s(seed)
    ), sigs AS (
      SELECT doc_id, seed, MIN(h) AS mh FROM hashes GROUP BY doc_id, seed
    ), bands AS (
      SELECT doc_id, CAST(seed // {rows_per_band} AS INT) AS band,
             md5(string_agg(CAST(mh AS VARCHAR), '-' ORDER BY seed)) AS band_key
      FROM sigs GROUP BY doc_id, CAST(seed // {rows_per_band} AS INT)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT t.j_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(COUNT(c.a_id) AS BIGINT) AS n_caught,
           ROUND(COUNT(c.a_id) / COUNT(*) + 5e-10, 4) AS recall,
           (SELECT CAST(d AS INT) FROM den) AS sample_den
    FROM truth t
    LEFT JOIN cand c ON c.a_id = t.a_id AND c.b_id = t.b_id
    GROUP BY t.j_bucket
    """
    )

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs, den = _sampled_baseline_docs(_docs(spark, sf_dir))
        # NOT pinned (r15 opt, measured): checkpointing the shared
        # shingle frame halves the sink's aggregate compute but the checkpoint barrier + per-build
        # probe job LOST on wall to the duplicated-parallel-stages
        # plan (control 1.28–1.42×) — on the row-budget sample the
        # duplicate subtrees run concurrently on idle cores.
        sh = word_shingles(docs, "doc_id", "text", n=3)
        # guard_mode pinned: the recall oracle models the full truth
        # pair set, not a sampled one
        pc = jaccard_pairs(
            sh, "doc_id", threshold=0.0, with_counts=True, guard_mode="fail"
        )
        truth = pc.select(
            "a_id",
            "b_id",
            F.expr("CAST((10 * common) DIV union_sz AS INT)").alias("j_bucket"),
        ).filter(F.col("j_bucket") >= 1)
        sigs = minhash_signatures(sh, "doc_id", n_hashes=n_hashes)
        cand = lsh_candidates(
            lsh_band_keys(sigs, "doc_id", rows_per_band=rows_per_band), "doc_id"
        ).withColumn("hit", F.lit(1))
        return (
            truth.join(cand, ["a_id", "b_id"], "left")
            .groupBy("j_bucket")
            .agg(
                F.count(F.lit(1)).alias("n_true"),
                F.count("hit").alias("n_caught"),
                F.round(F.count("hit") / F.count(F.lit(1)) + F.lit(5e-10), 4).alias(
                    "recall"
                ),
            )
            .withColumn("sample_den", F.lit(den).cast("int"))
        )

    build.__name__ = f"{name}_q"
    register(name, sql, doc=doc)(build)


_register_recall(
    "lsh_dedup_recall",
    n_hashes=8,
    rows_per_band=2,
    doc="Dedup-recall harness: the EMPIRICAL banding s-curve. Ground "
    "truth = exact trigram-Jaccard pairs on the row-budget uniform "
    "doc sample (same _JACCARD_DOC_BUDGET literal as the baselines, "
    "surfaced as sample_den); candidates = the production MinHash "
    "(8 perms) + LSH (4 bands x 2 rows) pipeline over the SAME "
    "sample. Output: per decile bucket of true Jaccard (integer "
    "div(10*common, union) — no float ever crosses the threshold), "
    "the true-pair count, how many the banding caught, and the "
    "recall. This measures the P(candidate|s) = 1-(1-s^r)^b curve "
    "the ingest LshParams knobs trace (SCALE.md s-curve note): at "
    "(b=4, r=2), s50 ~ 0.5 — buckets >= 5 should approach 1.0, "
    "buckets 1-2 near 0. Scale: both legs are bucket-local joins on "
    "the bounded sample, so the harness stays sf0.1-priced at any "
    "corpus size — the way recall is audited on a 100 TB run.",
)

_register_recall(
    "lsh_dedup_recall_wide",
    n_hashes=16,
    rows_per_band=2,
    doc="SECOND measured point of the recall→sizing loop: the exact "
    "parameterization pipeline.ingest_increment.size_lsh_params "
    "returns for --target-s50 0.35 (b=8 bands x r=2 rows -> s50 = "
    "(1/8)^(1/2) ~ 0.354), validated against the same exact-Jaccard "
    "ground truth as lsh_dedup_recall. Doubling the bands at fixed r "
    "shifts the s-curve LEFT: mid-decile buckets (3-5) that the "
    "default (b=4) banding half-misses should approach 1.0 here, at "
    "2x signature cost and 2x band-store state — the measured "
    "trade the sizing helper's formula promises (SCALE.md s-curve "
    "table).",
)


def _midband_band_chain(suffix: str, n_hashes: int, rows_per_band: int) -> str:
    """DuckDB minhash→band→pair-scoped-existence chain over the shared
    ``base`` CTE (same hash formula as ``_register_recall``), suffixed
    so two parameterizations coexist in one statement. The last CTE is
    an EXISTENCE check per prescribed pair (v_id = a_id + 1e12), NOT
    all-pairs candidate generation — the pairs are known up front, so
    generating every within-bucket pair (quadratic per hot bucket)
    would pay for answers nobody asked (the decision-probe lesson,
    §21.4: measured 19 s → ~1 s at sf0.1)."""
    return f"""
    hashes{suffix} AS (
      SELECT id, seed,
             ((2 * seed + 1) * h31 + 7919 * (seed + 1)) % 2147483647 AS h
      FROM base, unnest(generate_series(0, {n_hashes - 1})) AS s{suffix}(seed)
    ), sigs{suffix} AS (
      SELECT id, seed, MIN(h) AS mh FROM hashes{suffix} GROUP BY id, seed
    ), bands{suffix} AS (
      SELECT id, CAST(seed // {rows_per_band} AS INT) AS band,
             md5(string_agg(CAST(mh AS VARCHAR), '-' ORDER BY seed)) AS band_key
      FROM sigs{suffix} GROUP BY id, CAST(seed // {rows_per_band} AS INT)
    ), caught{suffix} AS (
      SELECT DISTINCT ba.id AS a_id
      FROM bands{suffix} ba JOIN bands{suffix} bv
        ON bv.id = ba.id + 1000000000000
       AND bv.band = ba.band AND bv.band_key = ba.band_key
    )"""


_MIDBAND_ORACLE = (
    "WITH "
    + _JACCARD_DEN_CTE
    + f"""
, sdocs AS (
  SELECT doc_id, text FROM documents, den
  WHERE {_HEXINT.format(x="CAST(doc_id AS VARCHAR)")} % den.d = 0
), toks AS (
  SELECT * FROM (
    SELECT doc_id, {_HEXINT.format(x="CAST(doc_id AS VARCHAR) || '#mb'")} AS hx,
           regexp_extract_all(lower(text), '\\w+') AS t
    FROM sdocs
  ) WHERE len(t) >= 20
), reps AS (
  SELECT hx % 16 AS pb, MIN(doc_id) AS rep_id FROM toks GROUP BY hx % 16
), pairs0 AS (
  SELECT a.doc_id AS a_id, a.t AS ta, rt.t AS tr,
         400 + 75 * CAST(a.hx % 5 AS BIGINT) AS frac_pm
  FROM toks a
  JOIN reps r ON a.hx % 16 = r.pb AND a.doc_id != r.rep_id
  JOIN toks rt ON rt.doc_id = r.rep_id
), spliced AS (
  SELECT a_id, ta, ta[1:CAST(k AS INT)] || tr[CAST(k + 1 AS INT):len(tr)] AS tv
  FROM (
    SELECT a_id, ta, tr,
           GREATEST(3, CAST((len(ta) * frac_pm) // 1000 AS BIGINT)) AS k
    FROM pairs0
  ) WHERE len(tr) >= k + 3
), prs AS (
  SELECT a_id, a_id + 1000000000000 AS v_id, sha, shv,
         CAST((10 * len(list_intersect(sha, shv)))
              // len(list_distinct(sha || shv)) AS INT) AS j_bucket
  FROM (
    SELECT a_id,
      list_distinct([ta[i] || ' ' || ta[i+1] || ' ' || ta[i+2]
                     for i in generate_series(1, len(ta) - 2)]) AS sha,
      list_distinct([tv[i] || ' ' || tv[i+1] || ' ' || tv[i+2]
                     for i in generate_series(1, len(tv) - 2)]) AS shv
    FROM spliced
  )
), shrows AS (
  SELECT a_id AS id, s AS shingle FROM prs, unnest(sha) AS u(s)
  UNION ALL
  SELECT v_id AS id, s AS shingle FROM prs, unnest(shv) AS u2(s)
), base AS (
  SELECT id, {_HEXINT.format(x="shingle")} % 2147483647 AS h31 FROM shrows
), {_midband_band_chain("8", 8, 2)}, {_midband_band_chain("16", 16, 2)}
SELECT m.j_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(COUNT(c8.a_id) AS BIGINT) AS caught_default,
       CAST(COUNT(c16.a_id) AS BIGINT) AS caught_wide,
       ROUND(COUNT(c8.a_id) / COUNT(*) + 5e-10, 4) AS recall_default,
       ROUND(COUNT(c16.a_id) / COUNT(*) + 5e-10, 4) AS recall_wide,
       (SELECT CAST(d AS INT) FROM den) AS sample_den
FROM (SELECT * FROM prs WHERE j_bucket BETWEEN 2 AND 7) m
LEFT JOIN caught8 c8 ON c8.a_id = m.a_id
LEFT JOIN caught16 c16 ON c16.a_id = m.a_id
GROUP BY m.j_bucket
"""
)


@register(
    "lsh_recall_corpus_midband",
    _MIDBAND_ORACLE,
    doc="Corpus-derived MID-BAND recall (round 11, closing SCALE.md "
    "§21.3's constructed-pair gap): the driver corpora hold ZERO "
    "exact-Jaccard pairs in deciles 2-7 (measured exhaustively on the "
    "FULL sf0.1/sf0.01 corpora — polarized near-dup structure), so "
    "mid-band pairs are DERIVED from corpus text: each row-budget-"
    "sampled doc is spliced with its deterministic partner (bucket "
    "representative by hexint(doc_id) % 16) at an integer per-mille "
    "mix fraction 400+75*(hexint%5), and every pair's TRUE trigram "
    "Jaccard is then measured exactly (array_intersect/union — no "
    "assumed similarity, unlike constructed word soup). Output: per "
    "mid decile (2-7), pair count and the recall of BOTH production "
    "bandings — default (8 perms, 4x2) vs wide (16 perms, 8x2) — so "
    "the s-curve table's mid buckets carry corpus-grounded numbers. "
    "Scale: the row budget prices this at sf0.1 forever; every join "
    "is bucket-local on bounded keys.",
)
def lsh_recall_corpus_midband_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs, den = _sampled_baseline_docs(_docs(spark, sf_dir))
    # SALTED stream ('#mb') for partner-bucket and mix-fraction
    # assignment — round-12 fix. The row budget keeps docs with
    # hexint(doc_id) % den == 0; deriving pb = hx % 16 and
    # frac_pm = 400 + 75·(hx % 5) from the SAME unsalted hash
    # correlates them with the sample whenever gcd(den, 16·5) > 1:
    # at sf1 den = 10, so every sampled doc had hx % 5 == 0 →
    # frac_pm = 400 for ALL pairs and even-only partner buckets,
    # truncating the measured mid-band at j_bucket 3 (§22.1's sf1
    # table — misattributed to word-salad vocab; the salted stream
    # and a realistic-vocab corpus both reproduce buckets 4+ only
    # after THIS fix, SCALE.md §23). den = 1 at the driver SFs, but
    # the salt changes pb/frac draws for every corpus, so both
    # engines flip together (oracle twin carries the same '#mb').
    hx = hexint(F.concat(F.col("doc_id").cast("string"), F.lit("#mb")))
    toks = docs.select(
        "doc_id",
        hx.alias("hx"),
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\w+"), 0).alias("t"),
    ).filter(F.size("t") >= 20)
    # pin the tokenized sample ONCE (r16 opt, guide §7.2): toks feeds
    # THREE consumers in the splice pipeline (the a-side, the rep
    # groupBy, and the rep_toks partner side), and un-pinned each
    # re-ran the scan+tokenize subtree inside the prs checkpoint job.
    # Bounded: row-budget sample, one token-array row per doc.
    # Interleaved A/B won every paired run (0.88x on the prs chain);
    # the semi-filtered rep_toks variant was also measured and LOST
    # (1.09x) — the broadcast planner already handles the 16-row rep
    # side.
    toks = toks.localCheckpoint(eager=True)
    reps = toks.groupBy((F.col("hx") % 16).alias("pb")).agg(
        F.min("doc_id").alias("rep_id")
    )
    rep_toks = toks.select(F.col("doc_id").alias("rep_id"), F.col("t").alias("tr"))
    pairs0 = (
        toks.join(
            reps,
            (toks["hx"] % 16 == reps["pb"]) & (toks["doc_id"] != reps["rep_id"]),
        )
        .join(rep_toks, "rep_id")
        .select(
            F.col("doc_id").alias("a_id"),
            F.col("t").alias("ta"),
            "tr",
            (F.lit(400) + F.lit(75) * (F.col("hx") % 5)).alias("frac_pm"),
        )
    )
    spliced = (
        pairs0.withColumn(
            "k",
            F.greatest(
                F.lit(3).cast("bigint"),
                F.expr("CAST((size(ta) * frac_pm) DIV 1000 AS BIGINT)"),
            ),
        )
        .filter(F.expr("size(tr) >= k + 3"))
        # TOTAL expressions below the filter (greatest(0, ·) on the
        # slice length; when-guards on the shingle transforms):
        # InferFiltersFromGenerate copies size(<expr>)>0 from the
        # downstream explode into a filter that predicate pushdown can
        # evaluate BEFORE the length filter — under ANSI, a partial
        # slice/sequence then throws on rows the filter would have
        # dropped (same hazard word_shingles documents).
        .select(
            "a_id",
            "ta",
            F.expr(
                "concat(slice(ta, 1, CAST(k AS INT)), "
                "slice(tr, CAST(k + 1 AS INT), "
                "greatest(0, size(tr) - CAST(k AS INT))))"
            ).alias("tv"),
        )
    )

    def sh_arr(col: str):
        return F.expr(
            f"array_distinct(CASE WHEN size({col}) >= 3 THEN "
            f"transform(sequence(1, size({col}) - 2), "
            f"i -> concat_ws(' ', element_at({col}, i), "
            f"element_at({col}, i + 1), element_at({col}, i + 2))) "
            f"ELSE CAST(array() AS array<string>) END)"
        )

    prs = spliced.select(
        "a_id",
        (F.col("a_id") + F.lit(1000000000000)).alias("v_id"),
        sh_arr("ta").alias("sha"),
        sh_arr("tv").alias("shv"),
    ).withColumn(
        "j_bucket",
        # greatest(1, ·): ANSI-total guard for pushdown-reordered
        # evaluation on pre-filter rows; every surviving row has
        # union >= 18, so the twin's unguarded division agrees
        F.expr(
            "CAST((10 * size(array_intersect(sha, shv))) "
            "DIV greatest(1, size(array_union(sha, shv))) AS INT)"
        ),
    )
    # pin the splice pipeline ONCE: prs feeds three consumers (the
    # truth rollup and both banding legs), and without the pin each
    # consumer re-evaluates the full toks-join/splice/shingle subtree
    # (measured 3x ≈ 19 s at sf0.1 → ~4 s pinned). Bounded by the row
    # budget (≤ _JACCARD_DOC_BUDGET pairs), so the checkpoint is a
    # few MB at any corpus size — same pattern as bpe_merge_3rounds'
    # vocab pin.
    prs = prs.localCheckpoint(eager=True)
    # ONE pass over prs for the shingle rows (a nested explode, not a
    # unionAll of two scans of the subtree)
    shrows = prs.select(
        F.explode(
            F.array(
                F.struct(F.col("a_id").alias("id"), F.col("sha").alias("sh")),
                F.struct(F.col("v_id").alias("id"), F.col("shv").alias("sh")),
            )
        ).alias("e")
    ).select(F.col("e.id").alias("id"), F.explode("e.sh").alias("shingle"))

    # ONE signature pipeline: _mh_params(seed) depends only on the
    # seed, so the default (8-perm) signature set is exactly the
    # seed<8 subset of the 16-perm one — the shingle pass and the
    # signature agg run once; both banding legs read the PINNED
    # signatures (two consumers again)
    sigs16 = minhash_signatures(shrows, "id", n_hashes=16).localCheckpoint(eager=True)

    def caught(sigs: DataFrame, flag: str) -> DataFrame:
        # pair-scoped EXISTENCE (left_semi on the pair's own band
        # keys), NOT all-pairs candidate generation: the pairs are
        # prescribed (v_id = a_id + 1e12), so generating every
        # within-bucket pair would be quadratic per hot bucket for
        # answers nobody asked — the §21.4 decision-probe lesson
        # (measured 19 s → ~1 s at sf0.1 on this very query)
        bands = lsh_band_keys(sigs, "id", rows_per_band=2)
        ba = bands.filter(F.col("id") < 1000000000000)
        bv = bands.filter(F.col("id") >= 1000000000000).select(
            (F.col("id") - 1000000000000).alias("id"), "band", "band_key"
        )
        return (
            ba.join(bv, ["id", "band", "band_key"], "left_semi")
            .select(F.col("id").alias("ca"))
            .distinct()
            .withColumn(flag, F.lit(1))
        )

    c8 = caught(sigs16.filter(F.col("seed") < 8), "hit8")
    c16 = caught(sigs16, "hit16")
    mid = prs.filter(F.col("j_bucket").between(2, 7)).select("a_id", "v_id", "j_bucket")
    return (
        mid.join(c8, mid["a_id"] == c8["ca"], "left")
        .join(c16, mid["a_id"] == c16["ca"], "left")
        .groupBy("j_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.count("hit8").alias("caught_default"),
            F.count("hit16").alias("caught_wide"),
            F.round(F.count("hit8") / F.count(F.lit(1)) + F.lit(5e-10), 4).alias(
                "recall_default"
            ),
            F.round(F.count("hit16") / F.count(F.lit(1)) + F.lit(5e-10), 4).alias(
                "recall_wide"
            ),
        )
        .withColumn("sample_den", F.lit(den).cast("int"))
    )


@register(
    "ingest_increment_pipeline",
    _SHINGLES_CTE
    + f"""
    , base AS (
      SELECT doc_id, {_HEXINT.format(x="shingle")} % 2147483647 AS h31 FROM sh
    ), hashes AS (
      SELECT doc_id, seed,
             ((2 * seed + 1) * h31 + 7919 * (seed + 1)) % 2147483647 AS h
      FROM base, unnest(generate_series(0, 7)) AS s(seed)
    ), sigs AS (
      SELECT doc_id, seed, MIN(h) AS mh FROM hashes GROUP BY doc_id, seed
    ), bands AS (
      SELECT doc_id, CAST(seed // 2 AS INT) AS band,
             md5(string_agg(CAST(mh AS VARCHAR), '-' ORDER BY seed)) AS band_key
      FROM sigs GROUP BY doc_id, CAST(seed // 2 AS INT)
    ), near AS (
      SELECT n.doc_id, COUNT(DISTINCT o.doc_id) AS n_near
      FROM bands n JOIN bands o
        ON n.band = o.band AND n.band_key = o.band_key
      WHERE n.doc_id % 5 = 0 AND o.doc_id % 5 != 0
      GROUP BY n.doc_id
    ), exact AS (
      SELECT i.doc_id, MIN(s.doc_id) AS exact_dup_of
      FROM documents i JOIN documents s
        ON md5(trim(regexp_replace(lower(i.text), '\\s+', ' ', 'g'))) =
           md5(trim(regexp_replace(lower(s.text), '\\s+', ' ', 'g')))
       AND i.doc_id % 5 = 0 AND s.doc_id % 5 != 0
      GROUP BY i.doc_id
    )
    SELECT i.doc_id, e.exact_dup_of,
           CAST(COALESCE(n.n_near, 0) AS BIGINT) AS n_near_candidates,
           CASE WHEN e.exact_dup_of IS NOT NULL THEN 'exact_dup'
                WHEN COALESCE(n.n_near, 0) > 0 THEN 'near_dup'
                ELSE 'new' END AS state
    FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) i
    LEFT JOIN exact e ON e.doc_id = i.doc_id
    LEFT JOIN near n ON n.doc_id = i.doc_id
    """,
    doc="The COMPOSED incremental-ingest pipeline end-to-end "
    "(pipeline/ingest_increment.py — jobs.py `ingest-increment` is "
    "the CLI twin): the stored corpus's dedup state (content-hash "
    "store + LSH band store) is MATERIALIZED to parquet, then the "
    "incoming batch (mod-5 split) is probed against the PERSISTED "
    "state — exact-dup via the content-hash join, near-dup via the "
    "band probe — and every incoming document gets a dedup decision "
    "(exact_dup / near_dup / new). The batch is hashed and shingled "
    "in-engine; the corpus side is a plain parquet scan of the state "
    "store (never re-shingled), so probe cost scales with |batch|, "
    "not |corpus| — the plan-shape test pins that the probe reads "
    "the band_store files and scans the documents table exactly "
    "once (tests/test_e2e_pipeline.py). The state store is plain "
    "parquet; the probe joins scan its legs (broadcast at toy SF, a "
    "corpus-side shuffle once they outgrow the threshold).",
)
def ingest_increment_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.ingest_increment import band_keys, build_state, probe_batch
    from .q_extra import _gate_scratch

    docs = _docs(spark, sf_dir)
    state_dir = _gate_scratch("ingest_incr", sf_dir) + "/state"
    build_state(docs.filter(F.col("doc_id") % 5 != 0), state_dir)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    # the COUNTING diagnostic: distinct stored partners per doc over the
    # band collisions, joined onto the decision probe (gated separately
    # by ingest_decision_probe) — the oracle constrains the state column
    # to agree with the count. A left join streams the batch's bands,
    # which arrive clustered on doc_id, so the count adds no shuffle
    stored = spark.read.parquet(f"{state_dir}/band_store").select(
        F.col("doc_id").alias("s_id"), "band", "band_key"
    )
    near = (
        band_keys(batch)
        .join(stored, on=["band", "band_key"], how="left")
        .groupBy("doc_id")
        .agg(
            F.count_distinct(
                F.when(F.col("s_id") != F.col("doc_id"), F.col("s_id"))
            ).alias("n_near_candidates")
        )
    )
    return probe_batch(spark, batch, state_dir).join(near, on="doc_id", how="left").select(
        "doc_id",
        "exact_dup_of",
        F.coalesce("n_near_candidates", F.lit(0)).cast("long").alias("n_near_candidates"),
        "state",
    )


@register(
    "ingest_decision_probe",
    _SHINGLES_CTE
    + f"""
    , base AS (
      SELECT doc_id, {_HEXINT.format(x="shingle")} % 2147483647 AS h31 FROM sh
    ), hashes AS (
      SELECT doc_id, seed,
             ((2 * seed + 1) * h31 + 7919 * (seed + 1)) % 2147483647 AS h
      FROM base, unnest(generate_series(0, 7)) AS s(seed)
    ), sigs AS (
      SELECT doc_id, seed, MIN(h) AS mh FROM hashes GROUP BY doc_id, seed
    ), bands AS (
      SELECT doc_id, CAST(seed // 2 AS INT) AS band,
             md5(string_agg(CAST(mh AS VARCHAR), '-' ORDER BY seed)) AS band_key
      FROM sigs GROUP BY doc_id, CAST(seed // 2 AS INT)
    ), near AS (
      SELECT DISTINCT n.doc_id
      FROM bands n JOIN bands o
        ON n.band = o.band AND n.band_key = o.band_key
      WHERE n.doc_id % 5 = 0 AND o.doc_id % 5 != 0
    ), exact AS (
      SELECT i.doc_id, MIN(s.doc_id) AS exact_dup_of
      FROM documents i JOIN documents s
        ON md5(trim(regexp_replace(lower(i.text), '\\s+', ' ', 'g'))) =
           md5(trim(regexp_replace(lower(s.text), '\\s+', ' ', 'g')))
       AND i.doc_id % 5 = 0 AND s.doc_id % 5 != 0
      GROUP BY i.doc_id
    )
    SELECT i.doc_id, e.exact_dup_of,
           (n.doc_id IS NOT NULL) AS near_dup,
           CASE WHEN e.exact_dup_of IS NOT NULL THEN 'exact_dup'
                WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'new' END AS state
    FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) i
    LEFT JOIN exact e ON e.doc_id = i.doc_id
    LEFT JOIN near n ON n.doc_id = i.doc_id
    """,
    doc="The DECISION-ONLY ingest probe — the production default of "
    "pipeline/ingest_increment.probe_batch: near-dup detection is a "
    "left_semi EXISTENCE check of the batch's band keys against the "
    "persisted band store (operators/dedup.incremental_near_dup_ids), "
    "never the candidate-pair stream, so probe bytes track the "
    "MATCHED BATCH ROWS instead of corpus collision multiplicity "
    "(which the sf30 audit measured growing 4.72x per 3x corpus "
    "step on the counting probe — the one super-linear byte object "
    "left in the production ingest loop before this). The oracle "
    "derives the same (exact_dup/near_dup/new) decisions with an "
    "EXISTS over the band join; ingest_increment_pipeline (the "
    "counting diagnostic, same split, same state store) joins the "
    "partner count onto this probe, and its oracle derives the state "
    "from the count. The reference analogy: the dedup insert needs "
    "existence only (nodes_helpers/collect.py:24-30).",
)
def ingest_decision_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.ingest_increment import build_state, probe_batch
    from .q_extra import _gate_scratch

    docs = _docs(spark, sf_dir)
    state_dir = _gate_scratch("ingest_decision", sf_dir) + "/state"
    build_state(docs.filter(F.col("doc_id") % 5 != 0), state_dir)
    return probe_batch(spark, docs.filter(F.col("doc_id") % 5 == 0), state_dir)


@register(
    "simhash_fingerprints",
    f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(regexp_extract_all(lower(text), '\\w+')) AS tok
      FROM documents
    ), th AS (
      SELECT doc_id, {_HEXINT.format(x="tok")} AS h FROM toks
    ), per_bit AS (
      SELECT doc_id, j,
             SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM th, unnest(generate_series(0, 15)) AS b(j)
      GROUP BY doc_id, j
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT) AS simhash
    FROM per_bit GROUP BY doc_id
    """,
    doc="Dedup: 16-bit SimHash fingerprint per document (sign-sum over "
    "token-hash bits)",
)
def simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return simhash(docs, "doc_id", "text", bits=16)


# MinHash-LSH pairs → recursive-CTE connected components, ending in a
# `comp(node, component)` CTE — shared by dedup_clusters and the
# canonical-pick query built on top of it. The recursive member needs
# RECURSIVE declared at the head of the whole CTE chain.
_COMPONENTS_CHAIN = _SHINGLES_CTE.replace("WITH toks", "WITH RECURSIVE toks") + f"""
    , base AS (
      SELECT doc_id, {_HEXINT.format(x="shingle")} % 2147483647 AS h31 FROM sh
    ), hashes AS (
      SELECT doc_id, seed,
             ((2 * seed + 1) * h31 + 7919 * (seed + 1)) % 2147483647 AS h
      FROM base, unnest(generate_series(0, 7)) AS s(seed)
    ), sigs AS (
      SELECT doc_id, seed, MIN(h) AS mh FROM hashes GROUP BY doc_id, seed
    ), bands AS (
      SELECT doc_id, CAST(seed // 2 AS INT) AS band,
             md5(string_agg(CAST(mh AS VARCHAR), '-' ORDER BY seed)) AS band_key
      FROM sigs GROUP BY doc_id, CAST(seed // 2 AS INT)
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ), sym AS (
      SELECT a_id AS a, b_id AS b FROM pairs
      UNION SELECT b_id, a_id FROM pairs
    ), reach(node, root) AS (
      SELECT DISTINCT a, a FROM sym
      UNION
      SELECT s.b, r.root FROM reach r JOIN sym s ON s.a = r.node
    ), comp AS (
      SELECT node, CAST(MIN(root) AS BIGINT) AS component
      FROM reach GROUP BY node
    )
"""


@register(
    "dedup_clusters",
    _COMPONENTS_CHAIN + "SELECT node, component FROM comp",
    doc="Dedup clustering: MinHash-LSH candidate pairs → connected "
    "components by large-star/small-star contraction (Kiveris et al. "
    "SoCC'14; operators/graph.py connected_components_star) — the "
    "cluster resolution step that turns near-dup buckets into "
    "keep/drop decisions (keep min-id per component). The CC input is "
    "per-bucket STAR edges (operators/dedup.star_edges: bucket-min → "
    "member, |bucket| edges), NOT the |bucket|²/2 candidate pairs — "
    "bucket-sharing is the edge relation here, so a clique's pair "
    "stream is pure redundancy to transitive closure and the star "
    "form provably yields identical components while keeping the "
    "edge object linear in corpus size. Star contraction then "
    "rewrites the edge set toward component-min stars each round, so "
    "per-round shuffle work SHRINKS as the graph contracts and "
    "rounds are O(log n) — unlike min-label propagation, whose every "
    "round drags the full edge list through a shuffle for "
    "O(diameter) rounds. Oracle: recursive-CTE reachability over the "
    "pair graph (same closure).",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components_star

    docs = _docs(spark, sf_dir)
    sh = word_shingles(docs, "doc_id", "text", n=3)
    sigs = minhash_signatures(sh, "doc_id", n_hashes=8)
    bands = lsh_band_keys(sigs, "doc_id", rows_per_band=2)
    edges = star_edges(bands, ["band", "band_key"], "doc_id")
    return connected_components_star(edges).select(
        "node", F.col("component").cast("long").alias("component")
    )


@register(
    "simhash_near_pairs",
    f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(regexp_extract_all(lower(text), '\\w+')) AS tok
      FROM documents
    ), th AS (
      SELECT doc_id, {_HEXINT.format(x="tok")} AS h FROM toks
    ), per_bit AS (
      SELECT doc_id, j,
             SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM th, unnest(generate_series(0, 15)) AS b(j)
      GROUP BY doc_id, j
    ), fp AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT) AS simhash
      FROM per_bit GROUP BY doc_id
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    doc="Dedup: SimHash near-pairs (hamming ≤ 3 over 16-bit "
    "fingerprints) via 4-band pigeonhole bucketing — EXACT, not "
    "approximate, for hamming < band count, with pair generation "
    "bucket-local (the oracle's quadratic self-join is the semantic "
    "spec, not the plan; the Spark side never compares all pairs).",
)
def simhash_near_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_near_pairs

    docs = _docs(spark, sf_dir)
    fp = simhash(docs, "doc_id", "text", bits=16)
    # guard_mode pinned: the oracle is the full near-pair set — a
    # session-level mode=sample must not silently subset it
    return simhash_near_pairs(
        fp, "doc_id", bits=16, n_bands=4, max_hamming=3, n_docs=docs.count(),
        guard_mode="fail",
    )


# shared by the string-keyed query and its hashed variant (same
# reasoning as _JACCARD_ORACLE)
_SPAN_FRACTION_ORACLE = """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS ts FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' ||
             ts[i+4] || ' ' || ts[i+5] || ' ' || ts[i+6] || ' ' || ts[i+7] AS shingle
      FROM toks, unnest(generate_series(1, len(ts) - 7)) AS g(i)
      WHERE len(ts) >= 8
    ), cnt AS (
      SELECT shingle, COUNT(*) AS n_docs_sh FROM sh GROUP BY shingle
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN c.n_docs_sh >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_shingles,
           ROUND(SUM(CASE WHEN c.n_docs_sh >= 2 THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*) + 5e-10, 4) AS dup_span_frac
    FROM sh s JOIN cnt c USING (shingle)
    GROUP BY s.doc_id
    """


def _span_fraction_rollup(sh: DataFrame) -> DataFrame:
    """Per-doc duplicated-span rollup over a (doc_id, shingle) frame —
    shingle dtype agnostic (string or hashed long)."""
    from pyspark.sql import Window

    w = Window.partitionBy("shingle")
    return (
        sh.withColumn("n_docs_sh", F.count(F.lit(1)).over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("n_docs_sh") >= 2).cast("long")).alias("n_shared_shingles"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_shared_shingles",
            F.round(
                F.col("n_shared_shingles") / F.col("n_shingles") + F.lit(5e-10), 4
            ).alias("dup_span_frac"),
        )
    )


@register(
    "duplicate_span_fraction",
    _SPAN_FRACTION_ORACLE,
    doc="Substring-level dedup signal (Lee et al., 'Deduplicating "
    "Training Data'): per document, the fraction of its distinct "
    "8-token shingles that also occur in at least one OTHER document "
    "— the standard 'duplicated span' measure used to excise "
    "cross-document boilerplate rather than drop whole docs. Plan: "
    "shingles arrive clustered on doc_id (word_shingles "
    "repartitions), the document-frequency count is a window over "
    "shingle (one exchange), and the per-doc rollup re-clusters on "
    "doc_id. At 100 TB, shuffle xxhash64(shingle) longs instead of "
    "~60-byte shingle strings (8-byte keys, same counts modulo a "
    "~2^-64 collision) — kept as strings here for bit-exact oracle "
    "parity; and the shingle-df table is the same artifact the "
    "contamination screen and LSH banding already build — one "
    "pipeline can share it. Epsilon +5e-10 before ROUND on both "
    "sides: int-ratio halves round differently in binary vs decimal.",
)
def duplicate_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return _span_fraction_rollup(word_shingles(docs, "doc_id", "text", n=8))


@register(
    "duplicate_span_fraction_hashed",
    _SPAN_FRACTION_ORACLE,
    doc="Hashed-shuffle-key variant of duplicate_span_fraction: the "
    "8-token shingles (~55 bytes each) become xxhash64 longs map-side "
    "before the document-frequency window's shingle exchange — the "
    "~7x shuffle-byte cut plans/q_dedup.py's string query documents "
    "as the 100 TB path, now implemented and gated against the SAME "
    "string-keyed oracle (identical counts absent a 2^-64 collision).",
)
def duplicate_span_fraction_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    sh = hashed_shingles(word_shingles(docs, "doc_id", "text", n=8), "doc_id")
    return _span_fraction_rollup(sh)


@register(
    "ngram_novelty",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS ts FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      FROM toks, unnest(generate_series(1, len(ts) - 2)) AS g(i)
      WHERE len(ts) >= 3
    ), owner AS (
      SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN o.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           ROUND(SUM(CASE WHEN o.first_doc = s.doc_id THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*) + 5e-10, 4) AS novelty
    FROM sh s JOIN owner o USING (shingle)
    GROUP BY s.doc_id
    """,
    doc="Incremental-dedup novelty score: fraction of a document's "
    "distinct 3-gram shingles whose FIRST corpus occurrence (min "
    "doc_id = ingestion order) is this document — the streaming-"
    "arrival view of span dedup: a doc that re-treads earlier "
    "content scores near 0 and is dropped before training. Same "
    "plan skeleton as duplicate_span_fraction (window over shingle, "
    "rollup on doc_id); in a live pipeline the `owner` side is the "
    "persisted first-seen shingle store probed incrementally "
    "(operators/dedup.incremental_lsh_candidates is the LSH twin).",
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    sh = word_shingles(docs, "doc_id", "text", n=3)
    w = Window.partitionBy("shingle")
    return (
        sh.withColumn("first_doc", F.min("doc_id").over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_shingles") + F.lit(5e-10), 4).alias("novelty"),
        )
    )


@register(
    "dedup_canonical_pick",
    _COMPONENTS_CHAIN
    + """
    , every AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster, d.n_chars
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ), canon AS (
      SELECT cluster, doc_id AS canon_id FROM (
        SELECT cluster, doc_id,
               row_number() OVER (PARTITION BY cluster
                                  ORDER BY n_chars DESC, doc_id ASC) AS rn
        FROM every) WHERE rn = 1
    )
    SELECT e.doc_id, e.cluster, c.canon_id, e.doc_id = c.canon_id AS kept
    FROM every e JOIN canon c ON c.cluster = e.cluster
    """,
    doc="Dedup cluster resolution, applied: turn near-dup clusters "
    "(MinHash-LSH pairs -> connected components) into per-document "
    "keep/replace decisions over the WHOLE corpus — singletons keep "
    "themselves; within a cluster the canonical survivor is the "
    "highest-quality member (longest text, ties to min id), not "
    "blindly the min id, which is how a curation pipeline actually "
    "retires near-duplicates. One extra hash-partitioned window over "
    "the cluster id and a broadcast-size join back; the component "
    "step runs on per-bucket STAR edges (operators/dedup.star_edges "
    "— identical components, |bucket| not |bucket|²/2 edges) through "
    "large-star/small-star contraction "
    "(operators/graph.py connected_components_star) — O(log n) "
    "rounds whose per-round work shrinks with the contracting edge "
    "set, replacing min-label propagation's O(diameter) full-edge-"
    "list rounds that dominated this query on the dense LSH "
    "candidate graph at sf1.",
)
def dedup_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components_star
    from ..operators.topk import top_k_by

    docs = _docs(spark, sf_dir)
    sh = word_shingles(docs, "doc_id", "text", n=3)
    sigs = minhash_signatures(sh, "doc_id", n_hashes=8)
    bands = lsh_band_keys(sigs, "doc_id", rows_per_band=2)
    edges = star_edges(bands, ["band", "band_key"], "doc_id")
    comp = connected_components_star(edges).select(
        F.col("node").alias("doc_id"), F.col("component").cast("long").alias("component")
    )
    every = docs.join(comp, on="doc_id", how="left").select(
        "doc_id",
        F.coalesce("component", F.col("doc_id")).alias("cluster"),
        "n_chars",
    )
    canon = top_k_by(
        every, ["cluster"], [F.desc("n_chars"), F.asc("doc_id")], k=1, rank_col="__r"
    ).select("cluster", F.col("doc_id").alias("canon_id"))
    return every.join(canon, on="cluster").select(
        "doc_id",
        "cluster",
        "canon_id",
        (F.col("doc_id") == F.col("canon_id")).alias("kept"),
    )


@register(
    "span_removal_rewrite",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS t FROM documents
    ), tok AS (
      SELECT doc_id, i - 1 AS pos, t[i] AS tk
      FROM toks, unnest(generate_series(1, len(t))) AS g(i)
      WHERE len(t) >= 1
    ), sh AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS shingle
      FROM toks, unnest(generate_series(1, len(t) - 7)) AS g(i)
      WHERE len(t) >= 8
    ), marked AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY shingle ORDER BY doc_id, pos) AS rn
      FROM sh
    ), removed AS (
      SELECT doc_id, pos FROM marked WHERE rn > 1
    ), covered AS (
      SELECT DISTINCT doc_id, pos + o AS pos
      FROM removed, unnest(generate_series(0, 7)) AS g(o)
    ), kept AS (
      SELECT t.doc_id, t.pos, t.tk
      FROM tok t LEFT JOIN covered c ON c.doc_id = t.doc_id AND c.pos = t.pos
      WHERE c.doc_id IS NULL
    ), reb AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             md5(string_agg(tk, ' ' ORDER BY pos)) AS h
      FROM kept GROUP BY doc_id
    )
    SELECT x.doc_id, CAST(len(x.t) AS BIGINT) AS n_tokens,
           CAST(len(x.t) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(r.h, md5('')) AS clean_hash
    FROM toks x LEFT JOIN reb r USING (doc_id)
    """,
    doc="Duplicate-span REMOVAL (Lee et al. 2022 applied, not just "
    "measured): every occurrence of an 8-token span whose first "
    "corpus occurrence is elsewhere (min (doc_id, pos) keeps it) is "
    "deleted, and each document is rebuilt from surviving tokens — "
    "the curation transform that strips cross-document boilerplate "
    "while keeping exactly one copy. Output per document: token "
    "count, removed count, and md5 of the rewritten text (both "
    "engines rebuild and hash the full string, so the gate checks "
    "the TRANSFORM, not just counts). operators/dedup."
    "strip_shared_spans: one shingle-keyed min-struct exchange finds "
    "first owners; coverage/rebuild stay clustered on the doc id; "
    "no pair generation anywhere — O(tokens x width) total.",
)
def span_removal_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import strip_shared_spans

    docs = _docs(spark, sf_dir)
    return strip_shared_spans(docs, "doc_id", "text", width=8)


# the hashed variant produces IDENTICAL output (the shingle is only a
# grouping key; xxhash64 is injective on any realistic span set), so
# it gates against the SAME string-keyed oracle — the registration
# reuses the spec registered just above.
from .registry import REGISTRY as _REG  # noqa: E402


@register(
    "span_removal_rewrite_hashed",
    _REG["span_removal_rewrite"].oracle,
    doc="Narrow-shuffle-key variant of span_removal_rewrite: the "
    "first-owner exchange — the pipeline's dominant shuffle, one row "
    "per token position keyed by a ~45-byte 8-gram string — carries "
    "8-byte xxhash64 longs instead (operators/dedup."
    "strip_shared_spans(hashed_keys=True)). Output is identical "
    "(the span value is only ever grouped on, never surfaced), so "
    "the full hash gate applies against the same string-keyed "
    "oracle, exactly as ngram_jaccard_pairs_hashed gates.",
)
def span_removal_rewrite_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import strip_shared_spans

    docs = _docs(spark, sf_dir)
    return strip_shared_spans(docs, "doc_id", "text", width=8, hashed_keys=True)


@register(
    "cdc_chunk_dedup",
    f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS t FROM documents
    ), base AS (
      SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= 1
    ), bnd AS (
      SELECT doc_id, t, n,
             [i for i in generate_series(4, n - 1)
              if {_HEXINT.format(x="array_to_string(t[i-3:i], ' ')")} % 16 = 0] AS b
      FROM base
    ), bf AS (
      SELECT doc_id, t, list_concat(list_concat([0], b), [n]) AS cuts FROM bnd
    ), chunks AS (
      SELECT doc_id, k AS chunk_idx,
             cuts[k] + 1 AS s, cuts[k + 1] AS e, t
      FROM bf, unnest(generate_series(1, len(cuts) - 1)) AS g(k)
    ), hashed AS (
      SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
             CAST(e - s + 1 AS INT) AS chunk_len,
             {_HEXINT.format(x="array_to_string(t[s:e], ' ')")} AS chunk_hash
      FROM chunks
    ), shared AS (
      SELECT chunk_hash, COUNT(DISTINCT doc_id) AS nd FROM hashed GROUP BY chunk_hash
    )
    SELECT h.doc_id, h.chunk_idx, h.chunk_len, s.nd > 1 AS is_shared
    FROM hashed h JOIN shared s ON s.chunk_hash = h.chunk_hash
    """,
    doc="Content-defined chunking + chunk-level dedup (rolling-hash "
    "boundaries, window 4, divisor 16 => ~16-token chunks): cut "
    "points depend only on local content, so chunk hashes survive "
    "edits that would shift every fixed-size block — the "
    "rsync/LBFS/backup-dedup trick applied to corpus snapshots. "
    "is_shared marks chunks appearing in more than one document "
    "(sub-document boilerplate that document-hash dedup misses). One "
    "map-side pass builds chunks (operators/dedup.cdc_chunks, pure "
    "Catalyst array algebra); the only shuffle is the chunk_hash "
    "group — at 100 TB that is the storage-dedup exchange and its "
    "keys are 8-byte longs.",
)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import cdc_chunks

    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    ch = cdc_chunks(docs, "doc_id", "text", window=4, divisor=16)
    # sharing via ONE window over the chunk-hash clustering instead of
    # an agg + join-back: same single shuffle key, but the chunk build
    # runs once (the join shape evaluates its lineage on both sides)
    # and there is no second join exchange. min!=max carries O(1)
    # aggregation state per chunk_hash group even when a boilerplate
    # chunk is owned by a corpus-scale fraction of documents (a
    # collect_set here would buffer every owner id).
    w = Window.partitionBy("chunk_hash")
    shared = F.min("doc_id").over(w) != F.max("doc_id").over(w)
    return ch.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("chunk_len").cast("int").alias("chunk_len"),
        shared.alias("is_shared"),
    )


# Two-phase incremental-ingest oracle, shared by stream_ingest_probe
# and ingest_state_maintenance: phase A (doc_id%5==4) probes the
# corpus state (m∈{1,2,3}); between phases the admitted (state='new')
# A docs join the state; phase B (m==0) probes corpus ∪ admitted-A.
# Both queries produce dec_a ∪ dec_b — they differ only in WHICH
# engine machinery runs between the phases (a checkpointed stream vs
# a compaction maintenance cycle), which the oracle is blind to by
# design: the decisions must be invariant to it. The near leg is the
# DECISION-ONLY probe (EXISTS over the band join — the production
# default since the counting probe's bytes were measured growing with
# corpus collision density); the counting diagnostic keeps its own
# oracle on ingest_increment_pipeline.
_TWO_PHASE_INGEST_ORACLE = (
    _SHINGLES_CTE
    + f"""
    , base AS (
      SELECT doc_id, {_HEXINT.format(x="shingle")} % 2147483647 AS h31 FROM sh
    ), hashes AS (
      SELECT doc_id, seed,
             ((2 * seed + 1) * h31 + 7919 * (seed + 1)) % 2147483647 AS h
      FROM base, unnest(generate_series(0, 7)) AS s(seed)
    ), sigs AS (
      SELECT doc_id, seed, MIN(h) AS mh FROM hashes GROUP BY doc_id, seed
    ), bands AS (
      SELECT doc_id, CAST(seed // 2 AS INT) AS band,
             md5(string_agg(CAST(mh AS VARCHAR), '-' ORDER BY seed)) AS band_key
      FROM sigs GROUP BY doc_id, CAST(seed // 2 AS INT)
    ), ch AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
             doc_id % 5 AS m
      FROM documents
    ),
    -- phase A: files for group m=4 arrive; probe against the corpus
    -- state (m IN (1,2,3))
    exact_a AS (
      SELECT i.doc_id, MIN(s.doc_id) AS exact_dup_of
      FROM ch i JOIN ch s ON i.content_hash = s.content_hash
      WHERE i.m = 4 AND s.m IN (1, 2, 3)
      GROUP BY i.doc_id
    ), near_a AS (
      SELECT DISTINCT n.doc_id
      FROM bands n JOIN bands o
        ON n.band = o.band AND n.band_key = o.band_key
      JOIN ch cn ON cn.doc_id = n.doc_id
      JOIN ch co ON co.doc_id = o.doc_id
      WHERE cn.m = 4 AND co.m IN (1, 2, 3)
    ), dec_a AS (
      SELECT i.doc_id, e.exact_dup_of,
             (n.doc_id IS NOT NULL) AS near_dup,
             CASE WHEN e.exact_dup_of IS NOT NULL THEN 'exact_dup'
                  WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                  ELSE 'new' END AS state
      FROM (SELECT doc_id FROM ch WHERE m = 4) i
      LEFT JOIN exact_a e ON e.doc_id = i.doc_id
      LEFT JOIN near_a n ON n.doc_id = i.doc_id
    ),
    -- between triggers the admitted (state='new') A documents joined
    -- the state store; phase B (m=0) probes corpus ∪ admitted-A
    stored_b AS (
      SELECT doc_id FROM ch WHERE m IN (1, 2, 3)
      UNION ALL
      SELECT doc_id FROM dec_a WHERE state = 'new'
    ), exact_b AS (
      SELECT i.doc_id, MIN(s.doc_id) AS exact_dup_of
      FROM ch i JOIN ch s ON i.content_hash = s.content_hash
      JOIN stored_b sb ON sb.doc_id = s.doc_id
      WHERE i.m = 0
      GROUP BY i.doc_id
    ), near_b AS (
      SELECT DISTINCT n.doc_id
      FROM bands n JOIN bands o
        ON n.band = o.band AND n.band_key = o.band_key
      JOIN ch cn ON cn.doc_id = n.doc_id
      JOIN stored_b sb ON sb.doc_id = o.doc_id
      WHERE cn.m = 0
    ), dec_b AS (
      SELECT i.doc_id, e.exact_dup_of,
             (n.doc_id IS NOT NULL) AS near_dup,
             CASE WHEN e.exact_dup_of IS NOT NULL THEN 'exact_dup'
                  WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                  ELSE 'new' END AS state
      FROM (SELECT doc_id FROM ch WHERE m = 0) i
      LEFT JOIN exact_b e ON e.doc_id = i.doc_id
      LEFT JOIN near_b n ON n.doc_id = i.doc_id
    )
    SELECT * FROM dec_a UNION ALL SELECT * FROM dec_b
    """
)


@register(
    "stream_ingest_probe",
    _TWO_PHASE_INGEST_ORACLE,
    doc="STREAMING incremental ingest (streaming/state_machine."
    "stream_ingest_probe): document files arrive in a drop folder; a "
    "checkpointed availableNow file stream probes each micro-batch "
    "against the persisted dedup state inside foreachBatch and "
    "appends per-document decisions, then transitions the state with "
    "the admitted NEW documents. The gate drives TWO stream "
    "invocations against one checkpoint — files for doc_id%5==4 "
    "land first, then files for %5==0 — so phase B's decisions must "
    "reflect phase A's admissions (corpus ∪ admitted-A), and the "
    "checkpoint's exactly-once file tracking guarantees no document "
    "is re-decided. The oracle replays both phases declaratively: "
    "dec_a against the corpus (m∈{1,2,3}), dec_b against corpus ∪ "
    "dec_a's state='new' rows. Each micro-batch is one "
    "pipeline/ingest_increment.ingest_batch step against the "
    "plain-parquet state store, so the probe joins scan the stored "
    "legs.",
)
def stream_ingest_probe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os
    import shutil

    from ..pipeline.ingest_increment import build_state
    from ..streaming.state_machine import stream_ingest_probe
    from .q_extra import _gate_scratch

    work = _gate_scratch("stream_ingest", sf_dir)
    docs = _docs(spark, sf_dir)
    m = F.col("doc_id") % 5
    src = f"{work}/incoming"
    os.makedirs(src, exist_ok=True)

    def land(df, name):
        tmp = f"{work}/tmp_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.copy(part, f"{src}/{name}.parquet")

    # two arrivals, one checkpoint: the second invocation processes
    # ONLY the b file (exactly-once), against the A-transitioned state.
    # Landing the A file shares no lineage or directory with the state
    # build — overlap them so the single-task coalesce(1) write rides
    # the state build's idle cores (guide §2.6); BOTH must complete
    # before the stream starts (the stream probes the state)
    from ..pipeline.ingest_increment import _run_concurrently

    _run_concurrently(
        lambda: build_state(docs.filter(m.isin(1, 2, 3)), f"{work}/state"),
        lambda: land(docs.filter(m == 4), "a"),
    )
    # the landed files carry the docs frame's own schema — pass it so
    # neither invocation pays a footer-sampling job to re-infer it
    stream_ingest_probe(
        spark, src, f"{work}/state", f"{work}/ckpt", f"{work}/out",
        schema=docs.schema,
    )
    land(docs.filter(m == 0), "b")
    stream_ingest_probe(
        spark, src, f"{work}/state", f"{work}/ckpt", f"{work}/out",
        schema=docs.schema,
    )
    # |docs|·2/5 rows — scales with SF, so return the LAZY parquet
    # read of the decision log, never a driver collect. The log is
    # partitioned by batch_id (the idempotent-replay layout) — project
    # it away so the gate compares the decision columns only.
    return spark.read.parquet(f"{work}/out").select(
        "doc_id", "exact_dup_of", "near_dup", "state"
    )


@register(
    "ingest_state_maintenance",
    _TWO_PHASE_INGEST_ORACLE,
    doc="Maintenance-cycle EQUIVALENCE for the ingest state store "
    "(pipeline/ingest_increment.compact_state): continuous ingest "
    "appends small state fragments after every admitted batch; the "
    "maintenance compaction bin-packs doc_hashes/band_store in place "
    "(sorted within files by the probe keys so row-group min/max "
    "stats stay selective). The gate runs ingest A -> COMPACT -> "
    "probe B, so phase B's decisions are computed against the FOLDED "
    "store — hashing them against the same two-phase oracle as "
    "stream_ingest_probe proves compaction is decision-invariant "
    "(the snapshot_tail_read discipline, applied to the dedup "
    "state). The adapter additionally asserts the fold actually "
    "folded: band_store file count must DROP to the compaction "
    "target, failing the gate loudly if appends stopped fragmenting "
    "(which would mean the maintenance verb silently stopped doing "
    "anything).",
)
def ingest_state_maintenance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob

    from ..pipeline.ingest_increment import (
        build_state,
        compact_state,
        ingest_batch,
        probe_batch,
    )
    from .q_extra import _gate_scratch

    work = _gate_scratch("ingest_maint", sf_dir)
    docs = _docs(spark, sf_dir)
    m = F.col("doc_id") % 5
    state = f"{work}/state"
    build_state(docs.filter(m.isin(1, 2, 3)), state)
    # phase A: ingest the %5==4 batch — admissions APPEND fragments
    dec_a, _ = ingest_batch(spark, docs.filter(m == 4), state)

    def n_files() -> int:
        return len(glob.glob(f"{state}/band_store/part-*.parquet"))

    before = n_files()
    stats = compact_state(spark, state)
    after = n_files()
    target = stats["band_store"]["target_files"]
    if not (after <= target < before):
        raise RuntimeError(
            f"state compaction did not fold the band store: "
            f"{before} files -> {after}, target {target}"
        )

    # phase B probes the COMPACTED store: decisions must equal what
    # the fragmented store would have produced (the oracle's dec_b)
    dec_b = probe_batch(spark, docs.filter(m == 0), state).localCheckpoint(eager=True)
    return dec_a.unionByName(dec_b)
