"""Deduplication operators for a training-data pipeline — exact,
n-gram Jaccard, MinHash+LSH banding, SimHash, embedding near-dup.

None of these exist in the reference (its dedup is a URL unique
constraint, nodes_helpers/collect.py:24–30); they are the
LLM-data-pipeline extensions the engine needs at 100 TB. Design notes:

- Everything is expressed as shuffle-on-key DataFrame algebra with an
  ANSI-SQL twin — no Python in the hot path, no driver-side loops.
- Hashes are md5-derived (first 15 hex chars → int63) so Spark and
  any SQL oracle compute bit-identical values; at production scale
  you'd swap in xxhash64 (builtin, faster) without changing shape.
- MinHash/LSH: candidate generation joins on (band, band_key) —
  cardinality is bucket-local, never |D|². At 100 TB, band keys are
  uniformly distributed by construction, so the shuffle is balanced;
  skewed mega-buckets (boilerplate shingles) are handled by AQE skew
  splitting or a band-key salt.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hexint(c: Column) -> Column:
    """First 15 hex chars of md5 → int63 — the cross-engine stable
    hash used throughout the dedup family."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def normalize_text(c: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def exact_dup_flags(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup via content-hash group: every row keeps its id and
    an ``is_dup`` flag (true for all but the min-id row of each hash
    group). Output (id_col, is_dup)."""
    h = F.md5(normalize_text(F.col(text_col)))
    w = Window.partitionBy(h)
    return docs.select(
        F.col(id_col), (F.col(id_col) != F.min(id_col).over(w)).alias("is_dup")
    )


def word_shingles(docs: DataFrame, id_col: str, text_col: str, n: int = 2) -> DataFrame:
    """Distinct word n-gram shingles per document: (id_col, shingle).
    Documents with fewer than n words produce no shingles.

    The input is HASH-repartitioned on the document id first, for two
    reasons: (a) a small parquet file arrives as ONE scan partition,
    which would serialize the regex/shingle/hash map work onto a
    single core; (b) every downstream consumer (minhash signatures,
    band keys, per-doc sizes) groups by the document id — with the
    shingle rows already clustered on id, Catalyst's EnsureRequirements
    elides those exchanges entirely (HashPartitioning(id) satisfies
    ClusteredDistribution(id, …)), so the only remaining shuffle in
    the LSH pipeline is the band-bucket one. (At 100 TB the scan
    already has thousands of partitions and this repartition is noise
    next to the map work it parallelizes and the shuffles it removes.)
    """
    spark = docs.sparkSession
    docs = docs.repartition(spark.sparkContext.defaultParallelism, F.col(id_col))
    # materialize the token array as a projected column BEFORE the
    # shingle lambda: referencing the regexp expression directly inside
    # element_at would inline (and re-evaluate) the regex once per
    # element_at call — O(words·n) regex runs per row instead of 1
    tokenized = docs.select(
        F.col(id_col),
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\w+"), 0).alias("__toks"),
    )
    toks = F.col("__toks")
    # the transform must be TOTAL even though short docs are filtered
    # out below: InferFiltersFromGenerate copies `size(<this expr>)>0`
    # into a filter that may be evaluated before the length filter, and
    # for size<n the un-guarded sequence(0, size-n) runs DESCENDING
    # (auto step -1), driving element_at past the array under ANSI
    shingles = F.array_distinct(
        F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)]),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    # explode the EXPRESSION, never an aliased attribute: with an
    # attribute child, InferFiltersFromGenerate infers `size(col)>0`
    # and predicate pushdown inlines the whole transform into an
    # interpreted Filter — the shingle work then runs twice per row
    # (measured 5× slower end-to-end); with an expression child the
    # rule skips (non-cheap), and the transform runs exactly once
    return tokenized.filter(F.size(toks) >= n).select(
        F.col(id_col), F.explode(shingles).alias("shingle")
    )


def hashed_shingles(
    shingles: DataFrame, id_col: str, cross_engine: bool = False
) -> DataFrame:
    """Shuffle-key compression for the dedup family: replace each
    shingle STRING with an 8-byte long, map-side, BEFORE any
    shingle-keyed exchange. An 8-token shingle averages ~50-60 bytes;
    the long is 8 — at 100 TB the shingle exchange is the dominant
    dedup shuffle, so this is a ~7x shuffle-byte cut for identical
    results modulo a ~2^-64 collision (two distinct strings colliding
    would merge their document-frequency buckets; with ~10^10 distinct
    shingles the expected number of colliding pairs is ~10^20/2^64 ≈
    0.003). Downstream operators (jaccard_pairs, the df-window
    rollups, minhash with ``prehashed=True``) are dtype-agnostic on
    the shingle column.

    Hash choice: xxhash64 (default) is the production key — builtin,
    no md5 round. ``cross_engine=True`` keys on :func:`hexint`
    (md5-derived) instead; it is slower but bit-reproducible in ANSI
    SQL, so a hexint-keyed pipeline can be hash-gated against a DuckDB
    oracle (and, because ``pmod(hexint(s), p) == hexint(s) % p``,
    feeding it to ``minhash_signatures(prehashed=True)`` reproduces
    the string-keyed signatures EXACTLY). The xxhash64 path is
    equivalence-tested against the string-keyed twin."""
    key = hexint(F.col("shingle")) if cross_engine else F.xxhash64("shingle")
    return shingles.select(F.col(id_col), key.alias("shingle"))


def jaccard_pairs(
    shingles: DataFrame,
    id_col: str,
    threshold: float,
    with_counts: bool = False,
    chunk_target: int = 256,
) -> DataFrame:
    """All document pairs sharing ≥1 shingle, with Jaccard similarity
    ≥ threshold. Output (a_id, b_id, jaccard), a_id < b_id.

    With ``with_counts=True`` the raw integers are returned instead —
    (a_id, b_id, common, union_sz), NO threshold filter and NO float
    division — so a consumer can bucket/threshold in exact integer
    arithmetic (the recall harness divides 10·common by union_sz with
    integer div, which no floating representation can perturb).

    Threshold semantics: the similarity is ROUNDED to 6 digits first
    and the ``>=`` filter applies to the rounded value, so a pair up
    to 5·10^-7 below the threshold can be admitted. Deliberate: the
    rounded column is the hash-gated output, and filtering on the
    unrounded value would let Spark and the SQL oracle disagree on
    pairs sitting exactly at the rounding boundary.

    Pairs are generated per shingle bucket — shuffle on shingle, never
    a cross product — by :func:`bucket_pairs` (round 13, off the
    collect_list + array-combinations idiom for the same reason
    :func:`lsh_candidates` moved in round 10: a boilerplate
    mega-bucket's |bucket|²/2 pair array inside ONE task row buffer is
    an OOM bomb no disk budget catches). Compared to the textbook
    3-way self-join (a ⋈ b on shingle, then two joins back to per-doc
    sizes) this evaluates the shingle pipeline once (ReuseExchange
    dedups the two join sides' identical scans) and replaces the two
    size joins with a carried payload column, recovered with one
    per-doc window (exchange-free when the shingles are clustered on
    the id, as word_shingles leaves them).

    GUARDED (round 13): the pair stream here IS shuffled (the
    pair-count groupBy), so disk exposure is the quadratic
    Σ_buckets C(c,2) model — :func:`pair_volume_guard` pre-flights it
    on the pre-window shingle frame. Registered callers are
    row-budget-sampled to ≤ _JACCARD_DOC_BUDGET documents
    (plans/q_dedup.py), which bounds the probe's own cost at roughly
    sf0.1 forever — that, not a worst-case formula, is their skip
    argument. Over budget the guard raises: the exact pair set or a
    measured refusal, never a sample (the registered queries' DuckDB
    oracles model the full pair set).

    ADAPTIVE CHUNKING (round 14): the probe measures every bucket's
    count anyway, so its ``max_bucket`` is a free certificate that
    :func:`bucket_pairs` turns into the un-split join when no shingle
    bucket exceeds ``chunk_target``.

    The guard's probe pins the pre-window shingle frame as it
    measures it (:func:`_volume_guard`), so the pair join reads that
    pin. No separate checkpoint job is added: r15 measured one (of
    the sized frame) and it lost on wall to the plan whose duplicated
    subtrees run concurrently on idle cores (control 1.15×)."""
    # guard BEFORE the size window (bucket counts don't need sizes, so
    # the probe plan is the bare shingle pipeline — measured ~0.55 s vs
    # ~1.1 s for the window-carrying plan at sf0.1)
    shingles, max_bucket = pair_volume_guard(
        shingles,
        ["shingle"],
        id_col,
        bytes_per_pair=JACCARD_GUARD_BYTES_PER_PAIR,
    )
    sized = shingles.withColumn(
        "__sz", F.count(F.lit(1)).over(Window.partitionBy(id_col))
    )
    paired = bucket_pairs(
        sized,
        ["shingle"],
        id_col,
        ["__sz"],
        max_bucket=max_bucket,
        chunk_target=chunk_target,
    )
    pairs = paired.select(
        "a_id",
        "b_id",
        F.col("a___sz").alias("sa"),
        F.col("b___sz").alias("sb"),
    )
    counted = pairs.groupBy("a_id", "b_id", "sa", "sb").agg(
        F.count(F.lit(1)).alias("common")
    )
    if with_counts:
        return counted.select(
            "a_id",
            "b_id",
            "common",
            (F.col("sa") + F.col("sb") - F.col("common")).alias("union_sz"),
        )
    return (
        counted.select(
            "a_id",
            "b_id",
            F.round(
                F.col("common") / (F.col("sa") + F.col("sb") - F.col("common")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# universal-hash family for MinHash: mh_i = (a_i·h + b_i) mod p over a
# 31-bit base hash. One md5 per shingle (not per shingle×seed) — the
# permutations are integer arithmetic, the textbook MinHash form.
_MH_PRIME = 2147483647  # 2^31 - 1 (Mersenne)


def _mh_params(seed: int) -> tuple[int, int]:
    a = 2 * seed + 1  # odd multipliers
    b = 7919 * (seed + 1)
    return a, b


def minhash_signatures(
    shingles: DataFrame, id_col: str, n_hashes: int, prehashed: bool = False
) -> DataFrame:
    """MinHash signature rows (id_col, seed, mh): per seed, the min
    over shingles of ``(a_seed · h31(shingle) + b_seed) mod (2^31-1)``
    where h31 is the md5-derived base hash. Map-side partial min
    before the shuffle → the shuffle carries |D|·n_hashes rows, not
    |shingles|·n_hashes; hashing cost is ONE md5 per shingle.

    With ``prehashed=True`` the shingle column already holds a long
    (see :func:`hashed_shingles`) and h31 is just pmod into the prime
    field — a different (but equally universal) random basis, so the
    signatures differ from the md5 path's while the LSH guarantees
    (collision probability = Jaccard similarity per hash) hold
    unchanged; exact duplicates hash identically under either basis."""
    if prehashed:
        base = F.pmod(F.col("shingle"), F.lit(_MH_PRIME)).alias("h31")
    else:
        base = (hexint(F.col("shingle")) % _MH_PRIME).alias("h31")
    hashed = shingles.select(F.col(id_col), base)
    # one COLUMN per seed through a single groupBy(id), not an
    # explode to |shingles|·n_hashes rows re-aggregated on (id, seed)
    # (r16 opt, guide §2.3/§1.2: the explode multiplied the rows the
    # hash aggregate must probe by n_hashes for identical minima; the
    # wide agg computes the same n_hashes mins over |shingles| rows,
    # then a |D|-scale posexplode restores the (id, seed, mh) row
    # contract — posexplode pos is 0-based, exactly the seed). Values
    # are bit-identical: same (a·h31+b) mod P per seed, same MIN.
    sig_cols = [
        F.min(
            (F.lit(_mh_params(s)[0]) * F.col("h31") + F.lit(_mh_params(s)[1]))
            % _MH_PRIME
        ).alias(f"_mh{s}")
        for s in range(n_hashes)
    ]
    wide = hashed.groupBy(id_col).agg(*sig_cols)
    return wide.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[F.col(f"_mh{s}") for s in range(n_hashes)])
        ).alias("seed", "mh"),
    )


def lsh_band_keys(
    signatures: DataFrame,
    id_col: str,
    rows_per_band: int,
    long_keys: bool = False,
) -> DataFrame:
    """Group signature rows into bands; band key = md5 of the
    seed-ordered minhash values in the band (32-char string), or with
    ``long_keys=True`` the 8-byte :func:`hexint` of the same string
    (pairs with ``hashed_shingles(cross_engine=True)`` so the whole
    narrow-key pipeline stays SQL-reproducible). The long key keeps
    the band-bucket exchange narrow; candidate pairs depend only on
    band-key EQUALITY, so any injective re-key yields the same pair
    set. Output (id_col, band, band_key)."""
    banded = signatures.withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
    ordered_mh = F.transform(
        F.array_sort(F.collect_list(F.struct("seed", "mh"))), lambda s: s["mh"].cast("string")
    )
    joined = F.concat_ws("-", ordered_mh)
    key = hexint(joined) if long_keys else F.md5(joined)
    return banded.groupBy(id_col, "band").agg(key.alias("band_key"))


class PairVolumeExceeded(RuntimeError):
    """Pre-flight disk-budget guard verdict: the pair-materializing op
    would write more candidate-pair bytes than the configured budget.
    Raised BEFORE the pair join runs, with the measured projection in
    the message — a guarded query exits in seconds instead of dying on
    'No space left on device' at minute 98 (the round-11 sf100 minhash
    failure this guard exists to prevent)."""

    def __init__(self, msg: str, projected_pairs: int, projected_bytes: int, budget_bytes: int):
        super().__init__(msg)
        self.projected_pairs = projected_pairs
        self.projected_bytes = projected_bytes
        self.budget_bytes = budget_bytes


def _pair_guard_budget(spark, budget_bytes: int | None) -> int:
    """Disk budget for materialized pair output: explicit arg, else
    session conf (size strings: '40g'), else HALF the free space on
    the shuffle-spill volume — the shuffle write is what actually
    fills the disk. The spill volume is found in Spark's own order:
    the ``SPARK_LOCAL_DIRS`` environment variable overrides
    ``spark.local.dir``, which falls back to /tmp."""
    import os
    import shutil

    from ..sources.tables import _size_to_bytes

    if budget_bytes is not None:
        return int(budget_bytes)
    conf = spark.conf.get("spark.welearn.pairGuard.budget", "")
    if conf:
        return _size_to_bytes(conf)
    local_dir = os.environ.get("SPARK_LOCAL_DIRS") or (
        spark.sparkContext.getConf().get("spark.local.dir", "/tmp")
    )
    local_dir = local_dir.split(",")[0]
    try:
        free = shutil.disk_usage(local_dir).free
    except OSError:
        free = shutil.disk_usage("/tmp").free
    return free // 2


def release_guard_caches() -> int:
    """No-op kept only because perfbench's ``QueryShort._clean``
    imports and calls it; the guard keeps no state past its build, so
    there is nothing to release. Delete it together with that call.
    Returns 0."""
    return 0


def _volume_guard(
    bucketed: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    *,
    probe_expr: Column,
    unit_bytes: int,
    fail_msg,
    worst_case_units: int | None = None,
    budget_bytes: int | None = None,
    sample_keep=None,
) -> tuple[DataFrame, int | None]:
    """Shared scaffolding for the two pre-flight disk-budget guards —
    budget resolution, the worst-case probe skip, the per-bucket count
    probe and the verdict live HERE so the two cost models (quadratic
    pairs vs replicated chunk rows) cannot drift in their budget/filter
    semantics (round-12 ADVICE). The cost models differ only in
    ``probe_expr`` (an aggregate over the per-bucket count column
    ``__c``) and the message.

    Over budget the guard raises :class:`PairVolumeExceeded` with
    ``fail_msg``'s text — unless the caller passes ``sample_keep``
    (den → sampling modulus), in which case it keeps the bucket members
    with ``hexint(id) % keep == 0`` instead.

    EAGER-BUILD NOTE: when the worst-case hint does not short-circuit,
    the probe runs a REAL Spark job (one aggregation to a 1-row fetch —
    allowlisted in tests/test_collect_allowlist.py) at DataFrame-BUILD
    time, so a guarded builder is not plan-only (anything that builds
    plans, e.g. the plan tests, executes these probes). The probe reads
    a ``localCheckpoint`` of the bucketed input, and the probe's own
    job materializes that pin: the upstream is computed ONCE, and the
    pass branch returns the pin (the sample branch returns the pin's
    member filter), so the real run reads it instead of recomputing.
    ``localCheckpoint(eager=False)`` adds no job of its own — the probe
    pass is the one that fills it. The pin lives as long as the
    returned frame: Spark's ContextCleaner frees its blocks once the
    frame is dropped (on the fail branch, as soon as the raise
    unwinds).

    No verdict and no cache is kept across builds: every rebuild of a
    plan runs its probe again (a scheduled job builds each plan once
    per process).

    Returns ``(frame, max_bucket)``. The probe also measures the MAX
    bucket count (same aggregation job); ``max_bucket`` is that count
    exactly when the frame is the probe's unfiltered pin — the
    certificate :func:`bucket_pairs` takes, and the sign that the frame
    is already pinned — and None otherwise (probe skipped, or members
    sampled after the measurement)."""
    spark = bucketed.sparkSession
    budget = _pair_guard_budget(spark, budget_bytes)
    if worst_case_units is not None and worst_case_units * unit_bytes <= budget:
        return bucketed, None
    pinned = bucketed.localCheckpoint(eager=False)
    row = (
        pinned.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("__c"))
        .agg(probe_expr.alias("__units"), F.max("__c").alias("__maxc"))
        .first()
    )
    units = int(row["__units"] or 0)
    projected = units * unit_bytes
    if projected <= budget:
        return pinned, int(row["__maxc"] or 0)
    if sample_keep is None:
        raise PairVolumeExceeded(
            fail_msg(units, projected, budget), units, projected, budget
        )
    # deterministic member sampling at 1/keep
    import logging
    import math

    keep = sample_keep(math.ceil(projected / budget))
    logging.getLogger(__name__).warning(
        "pair_volume_guard: projected %s units ≈ %.1f GB > budget %.1f GB; "
        "sampling bucket members at 1/%d (hexint(%s) %% %d == 0)",
        f"{units:,}", projected / 1e9, budget / 1e9, keep, id_col, keep,
    )
    return pinned.filter(hexint(F.col(id_col).cast("string")) % keep == 0), None


# default disk cost of one materialized candidate-pair row (2 longs,
# compressed shuffle): the measured sf100 write was ~9.7 B/pair
# (50 GB / 5.14 B pairs) plus dedup-stage headroom. Shared with the
# sampled query's DuckDB twin (plans/q_dedup._MINHASH_SAMPLED_ORACLE
# interpolates it), so the two engines cannot drift on the keep
# arithmetic's byte factor.
PAIR_GUARD_BYTES_PER_PAIR = 12

# default disk cost of one replicated chunk-join input row (compressed
# shuffle; see replicated_volume_guard's docstring for the sf3
# calibration: 1.249 GB / 119.7 M rows ≈ 10.4 B + 25% headroom)
REPL_GUARD_BYTES_PER_ROW = 13

# jaccard's 4-long pair rows (a_id, b_id, sa, sb): ~2x the 2-long
# minhash stream's measured 9.7 B/pair compressed footprint.
JACCARD_GUARD_BYTES_PER_PAIR = 24


def pair_volume_guard(
    bucketed: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    *,
    bytes_per_pair: int = PAIR_GUARD_BYTES_PER_PAIR,
    worst_case_pairs: int | None = None,
    budget_bytes: int | None = None,
    sample: bool = False,
) -> tuple[DataFrame, int | None]:
    """Pre-flight output-volume gate for bucketed self-pairing ops.

    A pair-materializing diagnostic's output is Σ_buckets C(c, 2) rows
    — quadratic in bucket size, so on a collision-heavy corpus it can
    exceed the machine's disk while every INPUT-side number still looks
    linear (round-11 sf100: 5.14 B pair rows ≈ 50 GB shuffle write from
    a 1.1 GB corpus, measured post-mortem by exactly this Σ C(c,2)
    probe). The probe is aggregation-only (groupBy bucket → count →
    sum), so running it FIRST costs one cheap pass and makes the
    decision exact:

    - projected bytes ≤ budget → ``(pin, max_bucket)``: the input,
      pinned by the probe (same rows, computed once), and the probe's
      max-bucket certificate;
    - over budget → raise :class:`PairVolumeExceeded` with the
      measured projection in the message;
    - over budget with ``sample=True`` → row-budget doctrine:
      deterministically keep bucket MEMBERS with
      ``hexint(id) % keep == 0`` where
      ``keep = ceil(sqrt(projected/budget))`` — pair volume scales as
      1/keep² ≤ budget/projected, which bounds even a single
      mega-bucket (bucket sampling could not: one boilerplate bucket
      can exceed the budget alone). Returns ``(sampled frame, None)``:
      the probe measured the pre-sample buckets. The keep formula
      and the 12 B/pair default are REPLICATED as SQL literals in the
      sampled query's DuckDB twin (plans/q_dedup._MINHASH_SAMPLED_ORACLE
      interpolates them from the shared module constants) — change
      them together.

    ``worst_case_pairs`` is a driver-side upper bound the CALLER can
    compute for free (e.g. n_bands · C(n_docs, 2)); when even the worst
    case fits the budget the probe is skipped entirely and the input
    comes back as ``(input, None)``, so small-SF correctness gates and
    the sf0.1 bench pay nothing. ``bytes_per_pair`` defaults to 12 —
    the measured sf100 shuffle write was ~9.7 B/pair (50 GB / 5.14 B
    pairs) plus dedup-stage headroom. See :func:`_volume_guard` for the
    eager-build semantics and the pin a probing guard returns, shared
    with :func:`replicated_volume_guard`."""
    def msg(pairs: int, projected: int, budget: int) -> str:
        return (
            f"pair_volume_guard: projected {pairs:,} candidate-pair rows "
            f"(Σ C(bucket,2) over {'/'.join(bucket_cols)}) ≈ "
            f"{projected / 1e9:.1f} GB at {bytes_per_pair} B/pair > budget "
            f"{budget / 1e9:.1f} GB. This op is output-bound on this corpus "
            f"— raise spark.welearn.pairGuard.budget, member-sample with "
            f"pair_volume_guard(sample=True) as minhash_lsh_candidates_sampled "
            f"does (its output is a subset of the full pair set), or use the "
            f"decision-only probe (incremental_near_dup_ids)."
        )

    import math

    return _volume_guard(
        bucketed,
        bucket_cols,
        id_col,
        probe_expr=F.sum(F.col("__c") * (F.col("__c") - 1) / 2),
        unit_bytes=bytes_per_pair,
        fail_msg=msg,
        worst_case_units=worst_case_pairs,
        budget_bytes=budget_bytes,
        # pair volume ∝ 1/keep², so ceil(sqrt(den)) bounds it to ≤ budget
        sample_keep=(lambda den: math.isqrt(den - 1) + 1) if sample else None,
    )


def replicated_volume_guard(
    bucketed: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    *,
    chunk_target: int = 256,
    bytes_per_row: int = REPL_GUARD_BYTES_PER_ROW,
    worst_case_rows: int | None = None,
    budget_bytes: int | None = None,
) -> tuple[DataFrame, int | None]:
    """Pre-flight disk gate for CHUNK-SPLIT self-joins (simhash's
    shape, and semantic dedup's) — the sibling of
    :func:`pair_volume_guard` with the correct cost model for ops
    whose pair rows never touch disk.

    ``bytes_per_row`` default 13 is measurement-calibrated like the
    pair model's 12 (round 13, SCALE.md §24): the exact probe at sf3
    counts 119.7 M replicated simhash rows against r12's measured
    1.249 GB shuffle write → ~10.4 B/row COMPRESSED on disk, +25%
    headroom. (The round-12 default of 48 B was the uncompressed row
    width; §23.6's "projects ~1.1 GB vs 1.25 GB measured" agreement
    was two offsetting errors — a uniform-bucket row undercount ×
    the uncompressed byte factor — exposed when the probe was run
    exactly. Callers whose replicated rows carry poorly-compressing
    payloads must override: semantic dedup passes 320 for its
    64-float embedding column.)

    The chunk-split :func:`bucket_pairs` callers (simhash, semantic
    and embedding-LSH dedup) generate each bucket's pairs IN-TASK after
    the shuffle and either dedup them by construction (first-band
    emission) or stream them straight into a selective ``keep``, so
    Σ C(c,2)·12 B — the right projection for ops whose candidate
    stream IS shuffled (the minhash dropDuplicates,
    jaccard's pair-count groupBy) — overstates their disk exposure by
    the chunk factor (measured round 12: the sf3 simhash probe
    projected 182.5 GB of "pairs" while the real run writes ~3 GB and
    completed in ~100 s the round before). What actually hits disk is
    the REPLICATED chunk input: a member of a bucket with s =
    ceil(c/chunk_target) chunks enters ≤ s+1 join sides, so the
    exchange carries Σ_buckets c·(s+1) rows ≈ 2·ΣC(c,2)/chunk_target
    at the hot-bucket limit. The probe aggregates exactly that.

    Over budget it raises; it never samples (no caller's output may be
    a subset). Returns ``(frame, max_bucket)`` as
    :func:`pair_volume_guard` does; see :func:`_volume_guard` for the
    eager-build semantics and the pin a probing guard returns."""
    def msg(rows: int, projected: int, budget: int) -> str:
        return (
            f"replicated_volume_guard: projected {rows:,} replicated "
            f"chunk-join input rows (Σ c·(ceil(c/{chunk_target})+1) over "
            f"{'/'.join(bucket_cols)}) ≈ {projected / 1e9:.1f} GB at "
            f"{bytes_per_row} B/row > budget {budget / 1e9:.1f} GB. The "
            f"chunk-split exchange itself exceeds the disk budget on this "
            f"corpus — raise spark.welearn.pairGuard.budget."
        )

    return _volume_guard(
        bucketed,
        bucket_cols,
        id_col,
        probe_expr=F.sum(
            F.col("__c") * (F.ceil(F.col("__c") / chunk_target) + F.lit(1))
        ),
        unit_bytes=bytes_per_row,
        fail_msg=msg,
        worst_case_units=worst_case_rows,
        budget_bytes=budget_bytes,
    )


def lsh_candidates(
    band_keys: DataFrame, id_col: str, pinned: bool = False
) -> DataFrame:
    """Distinct candidate pairs sharing any band key. Output
    (a_id, b_id), a_id < b_id.

    Built on :func:`bucket_pairs` (chunk-split — no guard certificate
    here), NOT the collect_list + array-combinations idiom this
    function used through round 9: that idiom materializes a bucket's
    full |bucket|²/2 pair array inside ONE task row buffer, which is an
    OOM bomb on a boilerplate mega-bucket — the sf10→sf30 audit
    measured the minhash pair stage at 22× wall for 3× data as hot
    buckets crossed the single-task threshold (SCALE.md §20). With the
    sub-split, per-task pair generation is ≤ ~chunk_target² regardless
    of bucket size; pairs sharing several bands are deduplicated. The
    oracle gates (`minhash_lsh_candidates(_hashed)`,
    `lsh_dedup_recall`) verify the pair set.

    The band frame is pinned first (r15): the split's two sides
    diverge at their explodes, so exchange reuse cannot unify them,
    and when the planner broadcasts one side the measured sink plan
    carried the whole shingle→minhash→band upstream TWICE. The pin is
    linear in the band rows at any scale. ``pinned=True`` says the
    frame already is one (a volume guard that probed and passed
    returns its pin, see :func:`_volume_guard`), and skips it."""
    if not pinned:
        band_keys = band_keys.localCheckpoint(eager=True)
    pairs = bucket_pairs(band_keys, ["band", "band_key"], id_col, [])
    return pairs.select("a_id", "b_id").dropDuplicates(["a_id", "b_id"])


def simhash(docs: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """SimHash fingerprint over distinct word tokens: bit j of the
    output is the sign of sum over tokens of ±1 according to bit j of
    the token hash. Output (id_col, simhash bigint).

    Two aggregations, both keyed on the document id — shuffles carry
    (doc, bit) partial sums, so width is |D|·bits regardless of text
    size."""
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    toks = (
        docs.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\w+"), 0))
            ).alias("tok"),
        )
        .withColumn("th", hexint(F.col("tok")))
    )
    # one sign-sum COLUMN per bit through a single groupBy(id), not a
    # bits-way explode re-aggregated on (id, j) and folded by a second
    # agg (r16 opt, guide §2.3/§1.2: the explode multiplied the rows
    # the hash aggregate must probe by `bits` — and the token hash is
    # computed BEFORE it, so the explode+double-agg was the dominant
    # per-task cost; the wide agg computes the same per-bit ±1 sums
    # over |tokens| rows and the fingerprint folds as a pure
    # projection). Values are bit-identical: same integer sign sums,
    # same >0 threshold, same disjoint bit contributions.
    sign_cols = [
        F.sum(
            F.when(F.expr(f"(shiftright(th, {j}) & 1) = 1"), 1).otherwise(-1)
        ).alias(f"_s{j}")
        for j in range(bits)
    ]
    wide = toks.groupBy(id_col).agg(*sign_cols)
    fingerprint = None
    for j in range(bits):
        bv = F.when(F.col(f"_s{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fingerprint = bv if fingerprint is None else fingerprint + bv
    return wide.select(F.col(id_col), fingerprint.cast("long").alias("simhash"))


def star_edges(bucketed: DataFrame, bucket_cols: list[str], id_col: str) -> DataFrame:
    """Per-bucket STAR edges for connected-components consumers:
    each bucket of size bs contributes bs−1 edges (bucket-min member →
    every other member) instead of :func:`lsh_candidates`'
    bs·(bs−1)/2 pairs. Components are provably identical: every star
    edge is itself a valid candidate pair (both endpoints share the
    bucket), so the star graph is a subgraph of the pair graph; and
    any candidate pair (u, v) sharing bucket B is connected through
    min(B) by two star edges, so the pair graph adds no connectivity
    the star graph lacks. Equal edge closure ⇒ equal components.

    This removes the last avoidable quadratic byte object from the
    dedup→clustering path: on a duplicate-heavy corpus a clique's
    pair stream dominates every shuffle downstream, while its star
    stream is linear in bucket size — the whole edge set is bounded
    by the ``bucketed`` input row count (|D|·n_bands for LSH), not by
    Σ bucket². Pair emission stays the right shape when the consumer
    actually scores pairs (Jaccard verification, hamming cuts —
    :func:`simhash_near_pairs` needs pairwise distances, which a star
    through the bucket min cannot certify); use THIS when the
    consumer is transitive-closure clustering and bucket-sharing is
    the edge relation.

    One window over the bucket key (the same exchange the pair path
    pays to group buckets) + a dedup over the ≤|input|-row edge
    stream. Output (src, dst), src = bucket min < dst; singleton
    buckets emit nothing, matching ``lsh_candidates``' size>1
    filter."""
    w = Window.partitionBy(*bucket_cols)
    return (
        bucketed.withColumn("__m", F.min(F.col(id_col)).over(w))
        .filter(F.col(id_col) != F.col("__m"))
        .select(F.col("__m").alias("src"), F.col(id_col).alias("dst"))
        .dropDuplicates(["src", "dst"])
    )


def incremental_lsh_candidates(
    stored_bands: DataFrame, new_bands: DataFrame, id_col: str
) -> DataFrame:
    """Incremental dedup: candidate pairs between a NEW batch and the
    EXISTING corpus — the production shape where the corpus band table
    is persisted and each ingest batch probes it, instead of
    re-pairing the whole corpus. Output
    (new_id, existing_id); pairs within the new batch itself come from
    ``lsh_candidates(new_bands)`` separately."""
    new = new_bands.select(F.col(id_col).alias("new_id"), "band", "band_key")
    old = stored_bands.select(F.col(id_col).alias("existing_id"), "band", "band_key")
    return (
        new.join(old, on=["band", "band_key"])
        .filter(F.col("new_id") != F.col("existing_id"))
        .select("new_id", "existing_id")
        .dropDuplicates(["new_id", "existing_id"])
    )


def incremental_near_dup_ids(
    stored_bands: DataFrame, new_bands: DataFrame, id_col: str
) -> DataFrame:
    """DECISION-ONLY incremental probe: the distinct new ids sharing
    ≥1 LSH band with ANY stored document — a left_semi existence
    check, never the candidate-pair stream. This is the hot ingest
    path's shape: :func:`incremental_lsh_candidates` materializes one
    row per (new, stored) band collision, so its bytes grow with
    collision MULTIPLICITY (measured 4.72× per 3× corpus step at sf30
    — the denser the corpus, the more stored partners each band key
    holds); a semi join stops probing a batch band row at its first
    match, so bytes track the MATCHED BATCH ROWS — O(|batch|·bands)
    regardless of corpus density. The reference's dedup insert needs
    exactly this existence decision, not the partner list
    (nodes_helpers/collect.py:24–30). When the partner multiplicity
    itself is the question, the ingest_increment_pipeline diagnostic
    counts it beside the decision."""
    new = new_bands.select(F.col(id_col).alias("new_id"), "band", "band_key").alias("n")
    old = stored_bands.select(
        F.col(id_col).alias("existing_id"), "band", "band_key"
    ).alias("o")
    cond = (
        (F.col("n.band") == F.col("o.band"))
        & (F.col("n.band_key") == F.col("o.band_key"))
        & (F.col("n.new_id") != F.col("o.existing_id"))
    )
    return (
        new.join(old, on=cond, how="left_semi")
        .select("new_id")
        .dropDuplicates(["new_id"])
    )


def chunk_assignment(id_col, n_chunks) -> Column:
    """The sub-split chunk id for a bucket member: a deterministic
    hash of the id modulo the bucket's chunk count. Shared by
    :func:`bucket_pairs` and its width-bound test so the test keeps
    describing the real plan if the split formula changes."""
    ident = F.col(id_col) if isinstance(id_col, str) else id_col
    n = F.lit(n_chunks) if isinstance(n_chunks, int) else n_chunks
    return F.pmod(F.xxhash64(ident), n).cast("int")


def bucket_pairs(
    bucketed: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    payload_cols: list[str],
    *,
    keep=None,
    max_bucket: int | None = None,
    chunk_target: int = 256,
) -> DataFrame:
    """All unordered within-bucket pairs that pass ``keep`` — the one
    bucket self-pair kernel under the near-dup family (n-gram Jaccard,
    MinHash-LSH candidates, SimHash, semantic and embedding-LSH dedup).

    Output: one row per unordered pair with ``a_id < b_id``, the bucket
    columns, and for every payload column p ``a_p`` / ``b_p`` aligned
    to that orientation.

    Two plans, one contract:

    - ``max_bucket`` ≤ ``chunk_target`` — a volume guard's certificate
      (the ``max_bucket`` a guard's probe returns) that no bucket is large
      enough to matter: the plain bucket self-join. No count window,
      no chunk explodes, no chunk-pair repartitions (round 14: the
      chunk split's +19–43% toy-SF cost, reclaimed whenever the probe
      proves the corpus has no hot bucket).
    - otherwise (no certificate, or a bucket over the target): the
      hot-bucket sub-split. Each bucket of size bs splits into
      ``s = ceil(bs/chunk_target)`` chunks by :func:`chunk_assignment`;
      a member of chunk c enters the left side for every partner chunk
      cj ≥ c and the right side for every ci ≤ c, so every unordered
      cross-chunk pair meets exactly once and the diagonal keeps the
      id-order cut. Per-task pair generation is ≤ ~chunk_target²
      regardless of bucket size; replication is s+1 rows per member
      (≈ bs²/chunk_target per bucket — what
      :func:`replicated_volume_guard` gates). Buckets at or under the
      target get s=1.

    ``keep(x, y)`` is an optional SYMMETRIC verify predicate over the
    two raw join sides: ``x(p)`` / ``y(p)`` return side x's / y's
    column for payload p, and the bucket columns are in scope by name.
    It runs BEFORE the pair is oriented — on plain column references,
    not on the swapped a_/b_ projections — so a selective verify
    (hamming cut, cosine threshold) is evaluated once per candidate and
    only survivors pay the orientation (measured at sf0.1 on 4 vCPUs:
    verifying SimHash after orientation cost +18% wall, before it
    nothing measurable).
    Symmetric means keep(x, y) == keep(y, x): a pair may meet in
    either order.

    Both the bucket and the chunk-pair distributions are pinned with
    explicit repartitions: the join INPUT is small in bytes but its
    OUTPUT is the near-quadratic pair stream, the shape AQE's
    size-based coalescing mis-reads onto one core (measured 5x on the
    bench corpus; a user repartition is exempt from coalescing)."""
    # with ANSI off, chunk_target=0 would make __s null and the
    # explode(sequence(...)) silently drop every row — fail loudly
    assert chunk_target >= 1, "chunk_target must be a positive chunk size"
    par = bucketed.sparkSession.sparkContext.defaultParallelism
    df = bucketed.repartition(par, *bucket_cols)

    def x(p: str) -> Column:
        return F.col(f"__x_{p}")

    def y(p: str) -> Column:
        return F.col(f"__y_{p}")

    def side(tag: str, *chunk: Column) -> list:
        return [
            *bucket_cols,
            *chunk,
            F.col(id_col).alias(f"__{tag}id"),
            *[F.col(p).alias(f"__{tag}_{p}") for p in payload_cols],
        ]

    xid, yid = F.col("__xid"), F.col("__yid")
    if max_bucket is not None and max_bucket <= chunk_target:
        # both sides project off the SAME repartitioned frame, so
        # ReuseExchange feeds the join from one shuffle
        joined = (
            df.select(*side("x"))
            .join(df.select(*side("y")), on=list(bucket_cols))
            .filter(xid < yid)
        )
        fwd = None
    else:
        w = Window.partitionBy(*bucket_cols)
        chunked = df.withColumn(
            "__s", F.ceil(F.count(F.lit(1)).over(w) / chunk_target).cast("int")
        ).withColumn("__c", chunk_assignment(id_col, F.col("__s")))
        chunk, n_chunks = F.col("__c"), F.col("__s")
        a = chunked.select(
            *side("x", chunk.alias("ci"),
                  F.explode(F.sequence(chunk, n_chunks - 1)).alias("cj"))
        ).repartition(par, *bucket_cols, "ci", "cj")
        b = chunked.select(
            *side("y", F.explode(F.sequence(F.lit(0), chunk)).alias("ci"),
                  chunk.alias("cj"))
        ).repartition(par, *bucket_cols, "ci", "cj")
        joined = a.join(b, on=[*bucket_cols, "ci", "cj"]).filter(
            # diagonal chunk pairs see both orderings — cut by id; a
            # cross-chunk pair meets exactly once, oriented by chunk
            (F.col("ci") < F.col("cj")) | (xid < yid)
        )
        fwd = xid < yid
    if keep is not None:
        joined = joined.filter(keep(x, y))

    def oriented(first: Column, second: Column) -> Column:
        return first if fwd is None else F.when(fwd, first).otherwise(second)

    out = [F.col(c) for c in bucket_cols] + [
        oriented(xid, yid).alias("a_id"),
        oriented(yid, xid).alias("b_id"),
    ]
    for p in payload_cols:
        out.append(oriented(x(p), y(p)).alias(f"a_{p}"))
        out.append(oriented(y(p), x(p)).alias(f"b_{p}"))
    return joined.select(*out)


def simhash_near_pairs(
    fingerprints: DataFrame,
    id_col: str,
    bits: int = 16,
    n_bands: int = 4,
    max_hamming: int = 3,
    chunk_target: int = 256,
    n_docs: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance ≤ max_hamming,
    found WITHOUT a quadratic comparison: split the fingerprint into
    ``n_bands`` bit-bands and pair only documents sharing a band value
    — by pigeonhole, any pair within ``n_bands - 1`` differing bits
    shares at least one exact band, so banded candidates + exact
    hamming filter is EXACT (not approximate) for
    ``max_hamming < n_bands``. Output (a_id, b_id, hamming), a_id <
    b_id.

    Pairs come from :func:`bucket_pairs` over the (band, band_key)
    buckets — the hot-bucket sub-split unless the guard certifies no
    bucket exceeds ``chunk_target`` — with two ``keep`` filters on the
    raw join sides: the hamming cut, and FIRST-SHARED-BAND emission. A
    qualifying pair shares every band where its XOR's band value is
    zero; emitting it only from the first such band makes each pair
    globally unique by construction, so no dropDuplicates re-shuffle
    of the (large, near-quadratic) pair stream is needed.

    The replicated-row guard in front of the pairing raises
    :class:`PairVolumeExceeded` when the chunk-split exchange would
    exceed the disk budget; the pair set is exact or refused, never
    sampled."""
    assert max_hamming < n_bands, "banding is only exact for max_hamming < n_bands"
    # checked before the guard, whose replicated-row model divides by it
    assert chunk_target >= 1, "chunk_target must be a positive chunk size"
    width = bits // n_bands
    mask = (1 << width) - 1
    # one row per (doc, band), band_key = that band's bit slice
    banded = fingerprints.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
    ).withColumn(
        # F.shiftright only takes a literal shift — the per-row band
        # offset needs the SQL form
        "band_key",
        F.expr(f"shiftright(simhash, band * {width})").bitwiseAND(F.lit(mask)),
    )
    # Pre-flight disk gate with the CHUNK-SPLIT cost model (NOT the
    # quadratic pair model): simhash pairs are generated in-task after
    # the shuffle and deduped by first-band emission, so the disk
    # consumer here is the replicated chunk-join input, ≈
    # 2·ΣC(c,2)/chunk_target rows at the hot-bucket limit — the
    # quadratic pair probe overstates it by the chunk factor and
    # (measured, round 12) wrongly benched this query off at sf3,
    # which the prior round completed in ~100 s. Below budget the
    # guard passes the rows through; when the caller supplies n_docs the
    # everyone-in-one-bucket worst case — c = n per (band, value),
    # rows = n_bands·n·(ceil(n/T)+1) — lets small corpora skip even
    # the probe.
    worst_rows = (
        None
        if n_docs is None
        else n_bands * n_docs * (-(-n_docs // chunk_target) + 1)
    )
    banded, max_bucket = replicated_volume_guard(
        banded,
        ["band", "band_key"],
        id_col,
        chunk_target=chunk_target,
        worst_case_rows=worst_rows,
    )
    # pin the banded frame in front of the chunk-split join (r15, same
    # reason as lsh_candidates: the split's two sides would otherwise
    # each carry the tokenize→per-bit agg→fingerprint→band upstream),
    # unless the guard's probe passed and returned its own pin
    if max_bucket is None:
        banded = banded.localCheckpoint(eager=True)

    def keep(x, y):
        xor = x("simhash").bitwiseXOR(y("simhash"))
        near = F.bit_count(xor) <= max_hamming
        # no earlier band bb < band also has a zero band value
        for bb in range(n_bands - 1):
            near = near & (
                (F.col("band") <= bb)
                | (F.shiftright(xor, bb * width).bitwiseAND(mask) != 0)
            )
        return near

    pairs = bucket_pairs(
        banded,
        ["band", "band_key"],
        id_col,
        ["simhash"],
        keep=keep,
        max_bucket=max_bucket,
        chunk_target=chunk_target,
    )
    return pairs.select(
        "a_id",
        "b_id",
        F.bit_count(F.col("a_simhash").bitwiseXOR(F.col("b_simhash"))).alias("hamming"),
    )


def strip_shared_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    width: int = 8,
    hashed_keys: bool = False,
) -> DataFrame:
    """Duplicate-span REMOVAL — the applied form of the span-fraction
    measure (Lee et al., *Deduplicating Training Data Makes Language
    Models Better*): every occurrence of a ``width``-token span that
    already occurred earlier in the corpus (first occurrence = min
    (doc_id, pos), kept) is deleted, and each document's text is
    rebuilt from its surviving tokens. Output one row per input
    document: (id_col, n_tokens, n_removed, clean_hash) where
    clean_hash = md5 of the space-joined surviving tokens (md5('')
    for fully-deduplicated or empty documents) — hash, not text, so
    the driver gate compares a fixed-width column.

    Scale shape: no pairs anywhere. One shingle-keyed exchange finds
    each span's global first owner (min-struct aggregate, map-side
    combinable); removed spans explode into at most width coverage
    rows each; coverage dedup, the kept-token anti-join, and the
    text rebuild are all clustered on the document id, which the
    repartitioned source already satisfies (same elision as
    word_shingles). Work is O(tokens · width) with shuffles carrying
    token/span rows, never documents × documents."""
    spark = docs.sparkSession
    docs = docs.repartition(spark.sparkContext.defaultParallelism, F.col(id_col))
    arr = docs.select(
        F.col(id_col),
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\w+"), 0).alias("__t"),
    )
    # pin the tokenized corpus ONCE (r15 opt, guide §7.2): arr feeds
    # three consumers (the kept-token side, the shingle/window side,
    # and the per-doc token-count base), and un-pinned each subtree
    # re-ran the scan → full-text repartition exchange → regexp
    # tokenize — the corpus read and the pipeline's most expensive
    # per-row expression paid 3x per sink. The checkpoint is linear
    # (one token-array row per document, ≈ the text it tokenizes) and
    # keeps the doc-clustered partitioning, so the rebuild agg and
    # anti-join elisions below survive the lineage cut.
    arr = arr.localCheckpoint(eager=True)
    toks = arr.select(F.col(id_col), F.posexplode("__t").alias("pos", "tk"))
    # positioned shingles: pos p (0-based) covers tokens [p, p+width).
    # The position range must be TOTAL even though short docs are
    # filtered out below — same hazard word_shingles guards against:
    # InferFiltersFromGenerate can evaluate the generator before the
    # length filter, where the un-guarded sequence(0, size-width) runs
    # DESCENDING for size < width and drives slice into negative
    # starts under ANSI
    positions = F.when(
        F.size("__t") >= width, F.sequence(F.lit(0), F.size("__t") - width)
    ).otherwise(F.array().cast("array<int>"))
    sh = arr.filter(F.size("__t") >= width).select(
        F.col(id_col),
        F.explode(
            F.transform(
                positions,
                lambda i: F.struct(
                    i.alias("pos"),
                    F.array_join(F.slice("__t", i + 1, width), " ").alias("shingle"),
                ),
            )
        ).alias("s"),
    ).select(F.col(id_col), F.col("s.pos").alias("pos"), F.col("s.shingle").alias("shingle"))
    if hashed_keys:
        # the shingle value is only ever GROUPED on, never surfaced —
        # so the dominant exchange (|tokens| rows of ~width·6-byte
        # strings) can carry 8-byte xxhash64 longs instead, identical
        # output modulo a ~2^-64 collision (same reasoning as
        # hashed_shingles; the string path remains the oracle twin)
        sh = sh.select(F.col(id_col), "pos", F.xxhash64("shingle").alias("shingle"))
    # first-owner marking via a min-struct WINDOW over the shingle
    # (r15 opt, guide §2.1/§7.2): the former groupBy(min-struct) +
    # join-back shape shuffled the token-level sh frame TWICE (once
    # into the aggregate, once into the join) and re-evaluated the
    # whole tokenize→shingle-explode pipeline on each side — the
    # window computes the same min (struct ordering is lexicographic,
    # so min(d,p) IS the first (doc, pos) occurrence) in ONE exchange
    # over ONE evaluation of sh. Same idiom as _span_fraction_rollup /
    # ngram_novelty; the oracle's row_number() formulation marks the
    # identical row set.
    first_w = Window.partitionBy("shingle")
    removed = (
        sh.withColumn(
            "__f",
            F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).over(
                first_w
            ),
        )
        .filter((F.col(id_col) != F.col("__f.d")) | (F.col("pos") != F.col("__f.p")))
        .select(F.col(id_col), "pos")
    )
    covered = removed.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (width - 1))).alias("pos"),
    ).dropDuplicates([id_col, "pos"])
    kept = toks.join(covered, on=[id_col, "pos"], how="left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tk"))), lambda s: s["tk"]
                ),
            )
        ).alias("clean_hash"),
    )
    base = arr.select(F.col(id_col), F.size("__t").cast("long").alias("n_tokens"))
    empty_md5 = "d41d8cd98f00b204e9800998ecf8427e"  # md5('')
    return base.join(rebuilt, on=id_col, how="left").select(
        F.col(id_col),
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("__n_kept", F.lit(0))).cast("long").alias("n_removed"),
        F.coalesce("clean_hash", F.lit(empty_md5)).alias("clean_hash"),
    )


def cdc_chunks(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 4,
    divisor: int = 16,
) -> DataFrame:
    """Content-defined chunking (rolling-hash boundaries): split each
    document into variable-length token chunks whose CUT POINTS depend
    only on local content — the property that makes chunk hashes
    stable under insertions/deletions (an edit re-chunks its
    neighborhood only, unlike fixed-size blocks where everything
    downstream shifts). A position i ends a chunk when the hash of the
    ``window`` tokens ending at i ≡ 0 (mod ``divisor``) — expected
    chunk length = divisor tokens.

    All Catalyst array algebra, no Python: boundary positions come
    from one ``filter`` over the position range (O(words) md5s per
    doc), chunk spans from zipping the boundary array with itself
    shifted — never an O(words²) prefix scan. Emits one row per
    chunk: (id, chunk_idx, chunk_len, chunk_hash) — chunk_hash is the
    dedup key: at 100 TB, grouping by it dedups STORAGE at sub-document
    granularity (the rsync/LBFS/backup-dedup trick applied to corpus
    snapshots), catching shared boilerplate that document-level
    hashing misses and span-level shingling only measures.
    """
    # with ANSI off, window/divisor of 0 would null the hash modulo and
    # silently produce one whole-document chunk — fail loudly instead
    assert window >= 1, "window must be a positive token count"
    assert divisor >= 1, "divisor must be a positive modulus"
    spark = docs.sparkSession
    docs = docs.repartition(spark.sparkContext.defaultParallelism, F.col(id_col))
    toks = docs.select(
        F.col(id_col),
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"\w+"), 0).alias("__t"),
    ).withColumn("__n", F.size("__t")).filter(F.col("__n") >= 1)
    # candidate cut positions window..n-1 (a cut after the final token
    # would make an empty chunk); sequence() must stay total — Spark
    # generates DESCENDING sequences when stop < start
    cand = F.when(
        F.col("__n") - 1 >= window, F.sequence(F.lit(window), F.col("__n") - 1)
    ).otherwise(F.array().cast("array<int>"))
    isb = lambda i: hexint(F.array_join(F.slice(F.col("__t"), i - (window - 1), window), " ")) % divisor == 0  # noqa: E731
    # materialize the boundary array as a PROJECTED COLUMN before the
    # span transform — the same hazard word_shingles' __toks note
    # documents, but quadratic here: referencing the bf EXPRESSION
    # inside element_at re-evaluates the whole O(words)-md5 boundary
    # scan once per element_at call, i.e. O(chunks·words) ≈ words²/8
    # md5s per document (r15 opt: measured as the bulk of
    # cdc_chunk_dedup's execution wall; with the column materialized
    # the scan runs once per row and element_at is O(1))
    toks = toks.withColumn(
        "__bf",
        F.concat(F.array(F.lit(0)), F.filter(cand, isb), F.array(F.col("__n"))),
    )
    bf = F.col("__bf")
    chunks = F.transform(
        F.sequence(F.lit(1), F.size(bf) - 1),
        lambda k: F.struct(
            k.alias("ci"),
            (F.element_at(bf, k) + 1).alias("s"),
            F.element_at(bf, k + 1).alias("e"),
        ),
    )
    rows = toks.select(F.col(id_col), F.col("__t"), F.explode(chunks).alias("c"))
    return rows.select(
        F.col(id_col),
        F.col("c.ci").alias("chunk_idx"),
        (F.col("c.e") - F.col("c.s") + 1).alias("chunk_len"),
        hexint(
            F.array_join(
                F.slice(F.col("__t"), F.col("c.s"), F.col("c.e") - F.col("c.s") + 1), " "
            )
        ).alias("chunk_hash"),
    )
