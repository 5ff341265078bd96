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

At 100 TB: ``band_store`` is written bucketed by ``band_key`` so the
per-batch probe join is a bucket-local equi-join with no corpus-side
shuffle (tests/test_bucketed_layout.py proves the zero-Exchange plan
for this layout); ``doc_hashes`` is bucketed by ``content_hash`` the
same way. Batches append new state in the arriving partitioning —
compaction folds them into the bucketed snapshot on the maintenance
schedule (operators/compaction.py).
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    incremental_lsh_candidates,
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
    later probe/transition rebuilds bands identically."""
    _run_concurrently(
        lambda: content_hashes(docs)
        .write.mode("overwrite")
        .parquet(f"{state_dir}/doc_hashes"),
        lambda: band_keys(docs, params=params)
        .write.mode("overwrite")
        .parquet(f"{state_dir}/band_store"),
    )
    with open(_params_path(state_dir), "w") as f:
        json.dump(asdict(params), f)


_TBLPROP_KEY = "welearn.lsh_params"


def _persist_table_params(
    spark: SparkSession, table_prefix: str, params: LshParams
) -> None:
    """Stamp the LSH parameterization onto the bucketed band-store
    table as a TBLPROPERTY — the metastore twin of the path store's
    ``lsh_params.json`` sidecar, so a probe can never silently run
    with bands built differently than the store holds."""
    spark.sql(
        f"ALTER TABLE {table_prefix}_band_store "
        f"SET TBLPROPERTIES ('{_TBLPROP_KEY}' = '{json.dumps(asdict(params))}')"
    )


def load_table_params(spark: SparkSession, table_prefix: str) -> LshParams | None:
    """The bucketed store's own parameterization, or None for tables
    written before the property existed (all built at the defaults)."""
    rows = spark.sql(f"SHOW TBLPROPERTIES {table_prefix}_band_store").collect()
    for r in rows:
        if r["key"] == _TBLPROP_KEY:
            return LshParams(**json.loads(r["value"]))
    return None


def build_state_bucketed(
    docs: DataFrame,
    table_prefix: str,
    n_buckets: int = 8,
    params: LshParams = _DEFAULT_PARAMS,
) -> None:
    """The production layout for the state store: BUCKETED tables
    (``{prefix}_doc_hashes`` by content_hash, ``{prefix}_band_store``
    by (band, band_key)), so the per-batch probe joins satisfy their
    ClusteredDistribution straight from the scan — the corpus side of
    every probe join carries ZERO Exchange; only the (small) batch
    side shuffles, into the bucket count. This is the demonstrated
    form of the docstring's 100 TB claim — parity and the exchange
    delta vs the path-based store are pinned in
    tests/test_bucketed_layout.py."""
    spark = docs.sparkSession
    _drop_table_and_orphan(spark, f"{table_prefix}_doc_hashes")
    (
        content_hashes(docs)
        .write.format("parquet")
        .bucketBy(n_buckets, "content_hash")
        .sortBy("content_hash")
        .mode("overwrite")
        .saveAsTable(f"{table_prefix}_doc_hashes")
    )
    _drop_table_and_orphan(spark, f"{table_prefix}_band_store")
    (
        band_keys(docs, params=params)
        .write.format("parquet")
        .bucketBy(n_buckets, "band", "band_key")
        .sortBy("band", "band_key")
        .mode("overwrite")
        .saveAsTable(f"{table_prefix}_band_store")
    )
    _persist_table_params(spark, table_prefix, params)


def probe_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    count_candidates: bool = False,
    batch_hashes: DataFrame | None = None,
    batch_bands: DataFrame | None = None,
) -> DataFrame:
    """Per-incoming-document dedup decision against the PERSISTED
    state — the batch is hashed/shingled in-engine, the corpus side is
    read from the state parquet (never recomputed), so probe cost is
    O(|batch|) plus the bucket-local band join.

    Default (decision-only) output (doc_id, exact_dup_of, near_dup,
    state):
      - exact_dup_of: min stored doc id with identical content hash
        (NULL if none) → state 'exact_dup'
      - near_dup: TRUE iff the doc shares ≥1 LSH band with any stored
        doc (a left_semi EXISTENCE check — probe bytes track matched
        batch rows, never corpus collision multiplicity) → state
        'near_dup' when no exact hit
      - otherwise state 'new'.

    ``count_candidates=True`` is the opt-in DIAGNOSTIC: it swaps the
    near leg for the candidate-pair stream and reports
    ``n_near_candidates`` (distinct stored partners per doc). Its
    bytes grow with corpus collision density (4.72× per 3× corpus
    step measured at sf30), so it is not the hot-loop default —
    ``apply_transitions`` consumes only the state column, which is
    identical between the modes (gated by ingest_decision_probe vs
    ingest_increment_pipeline).

    ``batch_hashes`` / ``batch_bands`` (optional): the batch's
    content-hash / band-key frames if the caller already computed
    them — a probe-then-transition cycle needs the SAME frames for
    the state append, and the minhash band pipeline is the expensive
    per-batch leg, so computing it once (pinned with a
    localCheckpoint) and passing it to both probe and
    apply_transitions halves the per-batch shingle/minhash work
    (r15 opt; guide §7.2 duplicated subtrees). Must be built from
    ``batch`` with this store's params — pass frames from
    :func:`content_hashes` / :func:`band_keys` only."""
    stored_hashes = spark.read.parquet(f"{state_dir}/doc_hashes")
    stored_bands = spark.read.parquet(f"{state_dir}/band_store")
    return _probe(
        batch,
        stored_hashes,
        stored_bands,
        load_params(state_dir),
        count_candidates=count_candidates,
        batch_hashes=batch_hashes,
        batch_bands=batch_bands,
    )


def probe_batch_bucketed(
    spark: SparkSession,
    batch: DataFrame,
    table_prefix: str,
    params: LshParams | None = None,
    count_candidates: bool = False,
) -> DataFrame:
    """:func:`probe_batch` against the bucketed-table state layout
    (:func:`build_state_bucketed`): identical decisions, but the
    corpus-side scans report HashPartitioning from the bucket spec so
    neither probe join shuffles stored data. The store's persisted
    parameterization (band-store TBLPROPERTY, written by
    :func:`build_state_bucketed` / :func:`fold_state_bucketed`)
    always governs — passing ``params`` that CONFLICT with it raises
    instead of silently probing with mismatched bands (which would
    find zero candidates); tables from before the property existed
    fall back to the explicit/default params."""
    stored = load_table_params(spark, table_prefix)
    if stored is not None and params is not None and stored != params:
        raise ValueError(
            f"LSH params mismatch: bucketed store {table_prefix!r} was "
            f"built with {stored}, probe requested {params} — probing "
            "with different bands than the store holds finds nothing. "
            "Rebuild the store or drop the explicit params."
        )
    return _probe(
        batch,
        spark.table(f"{table_prefix}_doc_hashes"),
        spark.table(f"{table_prefix}_band_store"),
        stored or params or _DEFAULT_PARAMS,
        count_candidates=count_candidates,
    )


def _probe(
    batch: DataFrame,
    stored_hashes: DataFrame,
    stored_bands: DataFrame,
    params: LshParams = _DEFAULT_PARAMS,
    count_candidates: bool = False,
    batch_hashes: DataFrame | None = None,
    batch_bands: DataFrame | None = None,
) -> DataFrame:
    if batch_hashes is None:
        batch_hashes = content_hashes(batch)
    if batch_bands is None:
        batch_bands = band_keys(batch, params=params)
    exact = (
        batch_hashes
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
    if count_candidates:
        near = (
            incremental_lsh_candidates(stored_bands, batch_bands, "doc_id")
            .groupBy(F.col("new_id").alias("doc_id"))
            .agg(F.count(F.lit(1)).alias("n_near_candidates"))
        )
        return base.join(near, on="doc_id", how="left").select(
            "doc_id",
            "exact_dup_of",
            F.coalesce("n_near_candidates", F.lit(0)).cast("long").alias(
                "n_near_candidates"
            ),
            F.when(F.col("exact_dup_of").isNotNull(), F.lit("exact_dup"))
            .when(F.coalesce("n_near_candidates", F.lit(0)) > 0, F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("state"),
        )
    near_ids = incremental_near_dup_ids(stored_bands, batch_bands, "doc_id").select(
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


def apply_transitions(
    spark: SparkSession,
    batch: DataFrame,
    decisions: DataFrame,
    state_dir: str,
    batch_hashes: DataFrame | None = None,
    batch_bands: DataFrame | None = None,
) -> int:
    """State transition: documents judged NEW join the corpus — their
    content hashes and band keys are APPENDED to the state store, so
    the next ingest's probe sees them (idempotency: re-probing the
    same batch then flags every doc an exact dup of itself-in-state).
    Returns the number of admitted documents.

    ``batch_hashes`` / ``batch_bands`` (optional, r15 opt): the whole
    batch's content-hash / band-key frames when the caller already
    computed them for the probe (see :func:`probe_batch`). The appends
    then semi-join those frames to the admitted ids instead of
    re-running the shingle/minhash pipeline on the admitted rows — the
    band pipeline is the expensive per-batch leg, and without reuse it
    ran twice per ingest cycle. The caller must have PINNED the band
    frame (localCheckpoint) if it wants the recompute saved rather
    than merely deduplicated lineage; the hash frame is one md5 per
    row and may stay lazy. Both frames read only batch-source files,
    never the state files being appended to, so the self-read hazard
    the admitted checkpoint guards against does not arise on this
    path — PROVIDED ``decisions`` is already materialized. Every
    in-repo caller passes either a localCheckpoint of the probe result
    or a read of the decision files it has just written
    (:func:`ingest_increment` does one or the other;
    ``streaming.state_machine.stream_ingest_probe`` the read). A
    lazy decisions frame would re-read the state store through the
    admitted-id semi-join exactly while the appends grow it, so the
    precomputed path requires the same pin the default path performs
    itself."""
    new_ids = decisions.filter(F.col("state") == "new").select("doc_id")
    if batch_hashes is not None and batch_bands is not None:
        # the admitted count rides the (smaller) hash append as an
        # Observation; the two appends still overlap (guide §2.6)
        obs = Observation()
        hashes_out = batch_hashes.join(new_ids, on="doc_id").observe(
            obs, F.count(F.lit(1)).alias("c")
        )
        bands_out = batch_bands.join(new_ids, on="doc_id")
        _run_concurrently(
            lambda: hashes_out.write.mode("append").parquet(
                f"{state_dir}/doc_hashes"
            ),
            lambda: bands_out.write.mode("append").parquet(
                f"{state_dir}/band_store"
            ),
        )
        return int(obs.get["c"])
    admitted = batch.join(new_ids, on="doc_id")
    # decisions derive from a lazy probe over the files being appended
    # to — pin them before the writes (bounded: |batch| rows of ids);
    # the admitted count rides the checkpoint job as an Observation so
    # the return value costs no extra action
    obs = Observation()
    admitted = admitted.observe(obs, F.count(F.lit(1)).alias("c")).localCheckpoint(
        eager=True
    )
    params = load_params(state_dir)
    _run_concurrently(
        lambda: content_hashes(admitted)
        .write.mode("append")
        .parquet(f"{state_dir}/doc_hashes"),
        lambda: band_keys(admitted, params=params)
        .write.mode("append")
        .parquet(f"{state_dir}/band_store"),
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
    ``state_dir``), probe the batch, apply state transitions, and
    (optionally) write the per-document decisions. Returns the
    decisions DataFrame (lazy read of ``out_dir`` when written).

    ``params`` applies only to a FIRST build; an existing store's
    persisted parameterization always wins (probing with different
    bands than the store holds would silently find nothing)."""
    batch_pred = F.col("doc_id") % batch_mod == 0
    if not os.path.exists(f"{state_dir}/band_store"):
        build_state(docs.filter(~batch_pred), state_dir, params=params)
    decisions = probe_batch(spark, docs.filter(batch_pred), state_dir)
    if out_dir is not None:
        decisions.write.mode("overwrite").parquet(out_dir)
        decisions = spark.read.parquet(out_dir)
    else:
        # the lazy decisions frame reads the very state files
        # apply_transitions is about to append to — a relation refresh
        # or recompute after the append would flip every admitted doc
        # to exact_dup of itself. Pin the bounded (|batch|-row) result
        # BEFORE the writes, the same convention as apply_transitions'
        # own admitted pin and the streaming probe.
        decisions = decisions.localCheckpoint(eager=True)
    apply_transitions(spark, docs.filter(batch_pred), decisions, state_dir)
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


def _drop_table_and_orphan(spark: SparkSession, table: str) -> None:
    """DROP TABLE IF EXISTS, then purge an ORPHANED managed location: a
    killed earlier run can leave the warehouse directory on disk with no
    catalog entry, and ``saveAsTable`` then refuses with
    LOCATION_ALREADY_EXISTS. Only removes a local-filesystem path, and
    only after verifying the catalog really has no such table."""
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if spark.catalog.tableExists(table):
        return
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", ""))
    if wh.scheme in ("", "file") and wh.path:
        shutil.rmtree(os.path.join(wh.path, table.lower()), ignore_errors=True)


def fold_state_bucketed(
    spark: SparkSession, state_dir: str, table_prefix: str, n_buckets: int = 8
) -> None:
    """Fold the path-based state store into the bucketed-table layout
    WITHOUT recomputing — a pure shuffle-on-key rewrite of the
    persisted hashes/bands (the corpus is never re-shingled). This is
    the scale maintenance cycle: ingest appends fragments to the path
    store; on the maintenance schedule the fragments fold into the
    bucketed snapshot, and subsequent probes
    (:func:`probe_batch_bucketed`) read the corpus side with ZERO
    Exchange. Decisions are identical across the fold (same rows,
    different layout). The path store's ``lsh_params.json`` sidecar
    travels with the fold (band-store TBLPROPERTY), so the folded
    tables stay self-describing."""
    _drop_table_and_orphan(spark, f"{table_prefix}_doc_hashes")
    (
        spark.read.parquet(f"{state_dir}/doc_hashes")
        .write.format("parquet")
        .bucketBy(n_buckets, "content_hash")
        .sortBy("content_hash")
        .mode("overwrite")
        .saveAsTable(f"{table_prefix}_doc_hashes")
    )
    _drop_table_and_orphan(spark, f"{table_prefix}_band_store")
    (
        spark.read.parquet(f"{state_dir}/band_store")
        .write.format("parquet")
        .bucketBy(n_buckets, "band", "band_key")
        .sortBy("band", "band_key")
        .mode("overwrite")
        .saveAsTable(f"{table_prefix}_band_store")
    )
    _persist_table_params(spark, table_prefix, load_params(state_dir))
