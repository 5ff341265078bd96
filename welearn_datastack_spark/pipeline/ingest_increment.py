"""Incremental-ingest pipeline — the composed end-to-end job that
chains the pieces the batch `curate` job cannot use at ingest time:

  ingest batch → persisted-state read (content-hash store + LSH band
  store) → exact-dup probe + band probe → per-document dedup decision
  → state transitions (NEW documents' hashes/bands appended).

This is the production shape for continuous corpus growth: per-ingest
cost scales with |batch| (the batch is shingled/hashed in-engine; the
corpus side is a PLAIN PARQUET SCAN of pre-computed state, never
re-shingled), and the state store is append-only — the same
snapshot+tail discipline as operators/compaction.py. The reference's
equivalent is the URL-ingest dedup + anti-join backfill chain
(nodes_workflow collect→filter cycle, pipeline/url_ingest.py twin);
here it is generalized to content-level dedup state.

One function owns the per-batch step: :func:`ingest_batch` pins the
batch's bands, probes, materializes the decisions once and appends the
admitted rows. The stream (``streaming.state_machine.
stream_ingest_probe``), the ``jobs ingest-increment`` CLI
(:func:`ingest_increment`) and the maintenance gate all call it.

The state store is plain parquet under one directory, with its LSH
parameterization in the ``lsh_params.json`` sidecar; batches append
new state and :func:`compact_state` bin-packs the fragments.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    incremental_near_dup_ids,
    lsh_band_keys,
    minhash_signatures,
    normalize_text,
    word_shingles,
)


@dataclass(frozen=True)
class LshParams:
    """The ingest pipeline's LSH parameterization — a PROPERTY OF THE
    STATE STORE, not of any one job invocation: persisted bands are
    only probe-able by bands built with the same (shingle_n, n_hashes,
    rows_per_band), so :func:`build_state` writes these to
    ``state_dir/lsh_params.json`` and :func:`probe_batch` reads them
    back, making a mismatched probe structurally impossible.

    What the knobs mean (the banding s-curve): with b = n_hashes /
    rows_per_band bands of r = rows_per_band rows, a pair with
    Jaccard similarity s becomes a candidate with probability
    1 − (1 − s^r)^b — a sigmoid whose 50% threshold sits near
    s50 ≈ (1/b)^(1/r). The defaults (n_hashes=8, r=2 → b=4) give
    s50 = 0.5: pairs more than half-similar usually collide, pairs
    much below rarely do. Raising n_hashes at fixed r adds bands →
    lowers the threshold (more recall, more candidates); raising r at
    fixed b sharpens the sigmoid (fewer false candidates, harder
    cutoff). Per-batch cost is linear in n_hashes (signature rows =
    |batch|·n_hashes) and state size is |corpus|·b band rows."""

    shingle_n: int = 3
    n_hashes: int = 8
    rows_per_band: int = 2

    def __post_init__(self) -> None:
        # lsh_band_keys bands by seed // rows_per_band: a remainder
        # would write a short extra band that n_bands and s50 never
        # count, and rows_per_band=0 divides by zero
        for name in ("shingle_n", "n_hashes", "rows_per_band"):
            v = getattr(self, name)
            if not (isinstance(v, int) and v > 0):
                raise ValueError(f"LshParams.{name} must be a positive int, got {v!r}")
        if self.n_hashes % self.rows_per_band:
            raise ValueError(
                f"LshParams.n_hashes ({self.n_hashes}) must be a multiple of "
                f"rows_per_band ({self.rows_per_band})"
            )

    @property
    def n_bands(self) -> int:
        return self.n_hashes // self.rows_per_band

    @property
    def s50(self) -> float:
        """Approximate Jaccard similarity at 50% candidate probability."""
        return (1.0 / self.n_bands) ** (1.0 / self.rows_per_band)


_DEFAULT_PARAMS = LshParams()


def _run_concurrently(*thunks):
    """Run independent Spark actions from driver threads so the later
    job's tasks back-fill executors freed by the earlier job's tail —
    the two legs of the state store (content hashes / band keys) and
    the two compaction rewrites touch disjoint directories and share
    no lineage, so serializing them only serialized their stragglers
    (optimization guide §2.6). Results in submission order; the first
    exception propagates."""
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        return [f.result() for f in [pool.submit(t) for t in thunks]]


def size_lsh_params(
    target_s50: float,
    shingle_n: int = 3,
    max_hashes: int = 64,
    rows_choices: tuple[int, ...] = (2, 3, 4),
) -> LshParams:
    """CLOSE THE RECALL→SIZING LOOP: turn a similarity threshold into
    a banding parameterization. The banding s-curve puts a pair with
    Jaccard s at candidate probability 1−(1−s^r)^b, whose 50% point
    is s50 ≈ (1/b)^(1/r); given the threshold a user wants near-dups
    caught above, solve for (b, r): for each candidate row count r,
    b = round((1/target)^r), keep the combination whose realized s50
    lands closest to the target within the ``max_hashes`` signature
    budget (ties → fewer hashes, i.e. cheaper signatures and less
    band-store state: per-batch cost is linear in n_hashes, state is
    |corpus|·b rows). The choice is VALIDATED empirically by the
    lsh_dedup_recall harness family — the measured per-decile recall
    curve at the chosen params (SCALE.md s-curve table), not just the
    formula. Surfaced on the ingest-increment CLI as --target-s50."""
    if not 0.0 < target_s50 < 1.0:
        raise ValueError(f"target_s50 must be in (0, 1), got {target_s50}")
    best: tuple[tuple[float, int], LshParams] | None = None
    for r in rows_choices:
        b0 = round((1.0 / target_s50) ** r)
        for b in (b0 - 1, b0, b0 + 1):
            if b < 1 or b * r > max_hashes:
                continue
            p = LshParams(shingle_n=shingle_n, n_hashes=b * r, rows_per_band=r)
            key = (abs(p.s50 - target_s50), p.n_hashes)
            if best is None or key < best[0]:
                best = (key, p)
    if best is None:
        raise ValueError(
            f"no banding with <= {max_hashes} hashes reaches s50 ~ "
            f"{target_s50}; raise max_hashes or relax the target"
        )
    return best[1]


def _params_path(state_dir: str) -> str:
    return f"{state_dir}/lsh_params.json"


def load_params(state_dir: str) -> LshParams:
    """The state store's own parameterization; defaults for stores
    written before the params file existed (they were all built at
    the defaults)."""
    try:
        with open(_params_path(state_dir)) as f:
            return LshParams(**json.load(f))
    except FileNotFoundError:
        return _DEFAULT_PARAMS


def content_hashes(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, content_hash) — md5 of whitespace-normalized lowercase
    text, the exact-dup key (same formula as exact_dup_flags)."""
    return docs.select(
        F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("content_hash")
    )


def band_keys(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    params: LshParams = _DEFAULT_PARAMS,
) -> DataFrame:
    """(doc_id, band, band_key) — the standard minhash/LSH band
    pipeline at the given parameterization (see :class:`LshParams`
    for the collision s-curve the knobs trace)."""
    sh = word_shingles(docs, id_col, text_col, n=params.shingle_n)
    sigs = minhash_signatures(sh, id_col, n_hashes=params.n_hashes)
    return lsh_band_keys(sigs, id_col, rows_per_band=params.rows_per_band)


def build_state(
    docs: DataFrame, state_dir: str, params: LshParams = _DEFAULT_PARAMS
) -> None:
    """Materialize the persisted dedup state for a stored corpus:
    ``state_dir/doc_hashes`` and ``state_dir/band_store`` parquet,
    plus ``lsh_params.json`` recording the parameterization so every
    later probe/transition rebuilds bands identically.

    The sidecar is written FIRST: :func:`ingest_increment` treats an
    existing ``band_store`` as a built store, so a crash after the
    legs but before the sidecar would leave a custom-param store that
    :func:`load_params` reads as the defaults — every later probe
    would band differently than the store and admit near-dups as new.
    A crash before the legs leaves no ``band_store``, and the next
    call rebuilds (and rewrites the sidecar)."""
    os.makedirs(state_dir, exist_ok=True)
    with open(_params_path(state_dir), "w") as f:
        json.dump(asdict(params), f)
    _run_concurrently(
        lambda: content_hashes(docs)
        .write.mode("overwrite")
        .parquet(f"{state_dir}/doc_hashes"),
        lambda: band_keys(docs, params=params)
        .write.mode("overwrite")
        .parquet(f"{state_dir}/band_store"),
    )


def probe_batch(spark: SparkSession, batch: DataFrame, state_dir: str) -> DataFrame:
    """Per-incoming-document dedup decision against the PERSISTED
    state — the batch is hashed/shingled in-engine with the store's
    own params, the corpus side is read from the state parquet (never
    recomputed), so probe cost is O(|batch|) plus the band join.

    Output (doc_id, exact_dup_of, near_dup, state):
      - exact_dup_of: min stored doc id with identical content hash
        (NULL if none) → state 'exact_dup'
      - near_dup: TRUE iff the doc shares ≥1 LSH band with any stored
        doc (a left_semi EXISTENCE check — probe bytes track matched
        batch rows, never corpus collision multiplicity) → state
        'near_dup' when no exact hit
      - otherwise state 'new'.

    The frame is lazy over the state files; to admit the batch, use
    :func:`ingest_batch`, which materializes the decisions before it
    appends to those files."""
    return _probe(
        spark,
        batch,
        state_dir,
        content_hashes(batch),
        band_keys(batch, params=load_params(state_dir)),
    )


def _probe(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    hashes: DataFrame,
    bands: DataFrame,
) -> DataFrame:
    """The decision plan: ``hashes`` / ``bands`` are the batch's
    :func:`content_hashes` / :func:`band_keys` frames (at the store's
    params), probed against the store's two legs under ``state_dir``."""
    stored_hashes = spark.read.parquet(f"{state_dir}/doc_hashes")
    stored_bands = spark.read.parquet(f"{state_dir}/band_store")
    exact = (
        hashes
        .join(
            stored_hashes.select(
                F.col("doc_id").alias("s_id"), "content_hash"
            ),
            on="content_hash",
        )
        .groupBy("doc_id")
        .agg(F.min("s_id").alias("exact_dup_of"))
    )
    base = batch.select("doc_id").join(exact, on="doc_id", how="left")
    near_ids = incremental_near_dup_ids(stored_bands, bands, "doc_id").select(
        F.col("new_id").alias("doc_id"), F.lit(True).alias("near_dup")
    )
    return base.join(near_ids, on="doc_id", how="left").select(
        "doc_id",
        "exact_dup_of",
        F.coalesce("near_dup", F.lit(False)).alias("near_dup"),
        F.when(F.col("exact_dup_of").isNotNull(), F.lit("exact_dup"))
        .when(F.coalesce("near_dup", F.lit(False)), F.lit("near_dup"))
        .otherwise(F.lit("new"))
        .alias("state"),
    )


def ingest_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    decisions_dir: str | None = None,
) -> tuple[DataFrame, dict]:
    """The one ingest step of the dedup state store: decide every
    document of ``batch`` against the persisted state, then admit the
    NEW ones — their content hashes and band keys are APPENDED, so the
    next probe sees them (re-ingesting the same batch then flags every
    former-new doc an exact dup of itself-in-state).

    In order:
      1. the store's own params (:func:`load_params`);
      2. the batch's band frame, PINNED once (localCheckpoint) — it
         feeds both the probe's near leg and the band append, and the
         minhash pipeline is the expensive per-batch leg. The hash
         frame is one md5 per row and stays lazy;
      3. the probe (:func:`probe_batch`'s decisions);
      4. ONE materialization of the decisions, before any append: the
         probe reads the very state files the appends grow, so a lazy
         frame would re-decide each admitted doc as an exact dup of
         itself. With ``decisions_dir`` the decisions are written there
         (overwrite — idempotent under replay) and read back with
         their known schema; otherwise they are localCheckpointed;
      5. the appends, skipped for an empty batch: the batch's hash
         and (pinned) band frames semi-joined to the admitted ids, the two legs written
         concurrently, the admitted count riding the hash append as
         an Observation.

    Returns (decisions, {"decided": n, "admitted": k}); the row count
    rides step 4 as an Observation, so the counts cost no extra job."""
    bands = band_keys(batch, params=load_params(state_dir)).localCheckpoint(eager=True)
    hashes = content_hashes(batch)
    obs = Observation()
    decisions = _probe(spark, batch, state_dir, hashes, bands).observe(
        obs, F.count(F.lit(1)).alias("c")
    )
    if decisions_dir is None:
        decisions = decisions.localCheckpoint(eager=True)
    else:
        decisions.write.mode("overwrite").parquet(decisions_dir)
        decisions = spark.read.schema(decisions.schema).parquet(decisions_dir)
    decided = int(obs.get["c"])
    admitted = 0 if decided == 0 else _apply_transitions(hashes, bands, decisions, state_dir)
    return decisions, {"decided": decided, "admitted": admitted}


def _apply_transitions(
    hashes: DataFrame, bands: DataFrame, decisions: DataFrame, state_dir: str
) -> int:
    """Append the admitted (state 'new') rows of the batch's hash and
    band frames to the state store; returns the admitted count. Both
    frames read only batch-source files and ``decisions`` is already
    materialized, so nothing here re-reads the files being appended
    to. The two appends touch disjoint directories and overlap
    (guide §2.6).

    The band append is coalesced to the decisions' partition count,
    which the probe sized from the batch: the pinned band frame keeps
    ``word_shingles``' defaultParallelism repartition, so a one-file
    batch would otherwise add one ``band_store`` fragment per core
    while ``doc_hashes`` gains one. The decisions are materialized,
    so reading their count runs no job (the lazy hash frame's count
    would run one for a batch that shuffles)."""
    new_ids = decisions.filter(F.col("state") == "new").select("doc_id")
    obs = Observation()
    hashes_out = hashes.join(new_ids, on="doc_id", how="left_semi").observe(
        obs, F.count(F.lit(1)).alias("c")
    )
    bands_out = bands.join(new_ids, on="doc_id", how="left_semi").coalesce(
        decisions.rdd.getNumPartitions()
    )
    _run_concurrently(
        lambda: hashes_out.write.mode("append").parquet(f"{state_dir}/doc_hashes"),
        lambda: bands_out.write.mode("append").parquet(f"{state_dir}/band_store"),
    )
    return int(obs.get["c"])


def ingest_increment(
    spark: SparkSession,
    docs: DataFrame,
    state_dir: str,
    out_dir: str | None = None,
    batch_mod: int = 5,
    params: LshParams = _DEFAULT_PARAMS,
) -> DataFrame:
    """The composed job: mod-split ``docs`` into stored corpus and
    incoming batch, build the state store on first run (missing
    ``band_store``), then :func:`ingest_batch` the batch, writing the
    per-document decisions to ``out_dir`` when given. Returns the
    materialized decisions.

    ``params`` applies only to a FIRST build; an existing store's
    persisted parameterization always wins (probing with different
    bands than the store holds would silently find nothing)."""
    batch_pred = F.col("doc_id") % batch_mod == 0
    if not os.path.exists(f"{state_dir}/band_store"):
        build_state(docs.filter(~batch_pred), state_dir, params=params)
    decisions, _ = ingest_batch(
        spark, docs.filter(batch_pred), state_dir, decisions_dir=out_dir
    )
    return decisions


def compact_state(
    spark: SparkSession, state_dir: str, target_file_bytes: int = 128 * 1024 * 1024
) -> dict:
    """The MAINTENANCE verb for the ingest state store: under
    continuous ingest, every admitted batch appends a handful of
    small files to ``doc_hashes``/``band_store`` (in the batch's
    arriving partitioning), so the store degrades into
    snapshot+fragments — after months the probe scan is dominated by
    file-open overhead. Bin-pack both legs in place
    (operators/compaction.compact), sorting within files by the probe
    key (content_hash; band, band_key) so parquet min/max row-group
    stats stay selective after the fold. Content is preserved
    row-for-row, so probe decisions are IDENTICAL pre/post — gated by
    the ingest_state_maintenance query and
    tests/test_e2e_pipeline.py. The params sidecar is untouched."""
    from ..operators.compaction import compact

    hashes_stats, band_stats = _run_concurrently(
        lambda: compact(
            spark,
            f"{state_dir}/doc_hashes",
            target_file_bytes,
            [F.col("content_hash")],
        ),
        lambda: compact(
            spark,
            f"{state_dir}/band_store",
            target_file_bytes,
            [F.col("band"), F.col("band_key")],
        ),
    )
    return {"doc_hashes": hashes_stats, "band_store": band_stats}

