"""Structured-Streaming realization of the reference's cadence +
state semantics (SURVEY.md §2.10 R1–R3).

The reference's "stream" is Argo CronWorkflows firing hourly over an
append-only Postgres state log (k8s values.yaml:93–290); current
state is the per-document arg-max. Structured Streaming with
``Trigger.AvailableNow`` over the same append-only log reproduces it
exactly: each trigger drains whatever accumulated, keyed state is the
running latest event per key, and the cron cadence becomes the
trigger schedule.

Two shapes are provided:

- ``stream_latest_state``: stateful keyed latest-event via
  ``applyInPandasWithState`` — true incremental state (the 100 TB
  shape: state store holds one row per key, each micro-batch touches
  only arriving keys).
- ``stream_windowed_counts``: event-time windowed counts with a
  watermark for late data (R1/late-data semantics the reference
  handles implicitly by re-running hourly).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..sources.tables import normalize_ts

STATE_SCHEMA = "last_event_id LONG, last_event_type STRING"
OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("last_event_id", T.LongType()),
        T.StructField("last_event_type", T.StringType()),
    ]
)


def _read_event_stream(
    spark: SparkSession, events_path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Open the append-only event log as a stream with the file's OWN
    schema (a batch read supplies it — streaming file sources require
    an explicit schema), then normalize ``ts`` to TIMESTAMP. Hard-coding
    the schema here is what broke when the testdata writer switched
    encodings; reading it from the files absorbs either encoding.
    ``max_files_per_trigger`` caps files per micro-batch — tests use it
    to force state (open sessions, dedup horizons) to carry ACROSS
    micro-batch boundaries instead of resolving inside one batch."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(events_path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_ts(reader.parquet(events_path))


def _parquet_sink(frame: DataFrame, out_dir: str) -> DataStreamWriter:
    """An append-mode parquet file sink at ``out_dir``."""
    return (
        frame.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
    )


def _drain(writer: DataStreamWriter, checkpoint_dir: str) -> StreamingQuery:
    """The trigger policy of every stream here: one ``AvailableNow``
    drain of whatever accumulated since the checkpoint, then stop —
    the reference's cron cadence (SURVEY.md §2.10 R1), one invocation
    per tick. Returns the finished StreamingQuery."""
    q = (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _update_latest(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Keyed reducer: keep the max-event_id row per user (R2 — the
    arg-max state machine as true incremental state)."""
    best_id, best_type = state.get if state.exists else (None, None)
    for pdf in pdfs:
        i = pdf["event_id"].idxmax()
        if best_id is None or pdf.loc[i, "event_id"] > best_id:
            best_id = int(pdf.loc[i, "event_id"])
            best_type = pdf.loc[i, "event_type"]
    state.update((best_id, best_type))
    yield pd.DataFrame(
        {"user_id": [key[0]], "last_event_id": [best_id], "last_event_type": [best_type]}
    )


def stream_latest_state(
    spark: SparkSession, events_path: str, checkpoint_dir: str, out_dir: str
) -> Any:
    """Drain the events log once (AvailableNow) maintaining per-key
    latest state; returns the finished StreamingQuery. Output mode
    'update': each micro-batch emits only touched keys.

    ``events_path`` must be a DIRECTORY of parquet files (streaming
    file sources tail directories — the append-only log grows by
    adding files, exactly the reference's append-only table)."""
    from ..session import ensure_self_on_executors

    ensure_self_on_executors(spark)
    stream = (
        _read_event_stream(spark, events_path)
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_latest,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    # stateful update-mode output can't go straight to a file sink
    # (file sinks are append-only) — foreachBatch appends each
    # micro-batch's touched keys; readers take the arg-max per key,
    # identical to how the reference reads its append-only state log
    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    return _drain(
        stream.writeStream.foreachBatch(write_batch).outputMode("update"),
        checkpoint_dir,
    )


def stream_windowed_counts(
    spark: SparkSession,
    events_path: str,
    checkpoint_dir: str,
    out_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> Any:
    """Event-time tumbling-window counts per event_type with a
    watermark bounding late data — the streaming twin of the hourly
    cron aggregation cadence (R1)."""
    events = _read_event_stream(spark, events_path)
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    return _drain(_parquet_sink(agg, out_dir), checkpoint_dir)


def latest_state_batch_equivalent(spark: SparkSession, events_path: str) -> DataFrame:
    """The batch arg-max the stream must agree with (test oracle)."""
    from ..operators.state_log import latest_state

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = normalize_ts(spark.read.parquet(events_path))
    return latest_state(ev, keep_cols=("event_type",)).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
    )


def stream_dedup_urls(
    spark: SparkSession,
    events_path: str,
    checkpoint_dir: str,
    out_dir: str,
    watermark: str = "2 hours",
) -> Any:
    """Streaming ingest dedup (SURVEY.md §2.10 R4): emit each
    (user_id, event_type) key at most once per watermark horizon via
    ``dropDuplicatesWithinWatermark``. The batch reference re-scans
    the whole URL table per ingest to anti-join duplicates
    (nodes_helpers/collect.py:24–30); the streaming form keeps only
    the in-horizon key set in state — bounded memory at 100 TB/day
    ingest, because keys age out with the watermark instead of
    accumulating forever (what plain dropDuplicates would do)."""
    events = _read_event_stream(spark, events_path)
    deduped = (
        events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("event_id", "ts", "user_id", "event_type")
    )
    return _drain(_parquet_sink(deduped, out_dir), checkpoint_dir)


def stream_enrich_join(
    spark: SparkSession,
    events_path: str,
    checkpoint_dir: str,
    out_dir: str,
    dim_rows: list[tuple] | None = None,
) -> Any:
    """Stream-static enrichment join (R5 shape): the event stream
    joins a slowly-changing dimension (re-read every micro-batch, so
    dimension updates take effect at the next trigger without
    restarting the query). The static side is broadcast — the stream
    never shuffles for the join, the same plan shape the batch
    `model_resolution` uses."""
    dim = spark.createDataFrame(
        dim_rows or [("click", "web"), ("view", "web"), ("purchase", "commerce")],
        "event_type STRING, channel STRING",
    )
    events = _read_event_stream(spark, events_path)
    enriched = events.join(F.broadcast(dim), on="event_type", how="left").select(
        "event_id", "user_id", "event_type", F.coalesce("channel", F.lit("other")).alias("channel")
    )
    return _drain(_parquet_sink(enriched, out_dir), checkpoint_dir)


def stream_session_counts(
    spark: SparkSession,
    events_path: str,
    checkpoint_dir: str,
    out_dir: str,
    gap: str = "4 hours",
    watermark: str = "0 seconds",
    max_files_per_trigger: int | None = None,
) -> Any:
    """Event-time SESSION windows per user (``F.session_window``): a
    session is a maximal run of events where each is within ``gap`` of
    the previous; its window is [first_ts, last_ts + gap). Append mode
    emits a session once the watermark passes its end — the streaming
    twin of the batch gaps-and-islands sessionization (q_text.
    sessionization), with the state store holding one open session per
    active key instead of re-scanning history each cadence tick."""
    events = _read_event_stream(spark, events_path, max_files_per_trigger)
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window(F.col("ts"), gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("session_start"), "user_id", "n")
    )
    return _drain(_parquet_sink(agg, out_dir), checkpoint_dir)


def _check_decision_log_layout(out_dir: str) -> None:
    """Migration guard for the decision-log layout change (flat
    appended part-files → ``batch_id=N`` partition subdirectories,
    introduced for idempotent per-batch overwrite): restarting an old
    deployment against a pre-existing flat ``out_dir`` would produce
    a MIXED directory that ``spark.read.parquet`` cannot
    partition-discover, silently breaking every decision-log reader.
    Fail loudly before the first batch instead, with the two
    migration options spelled out."""
    import glob
    import os

    flat = glob.glob(os.path.join(out_dir, "part-*"))
    if flat:
        raise RuntimeError(
            f"decision log at {out_dir!r} holds {len(flat)} legacy flat "
            "part-files from the pre-batch_id layout; mixing them with "
            "batch_id=N subdirectories would break partition discovery "
            "for every reader. Migrate first: move the existing files "
            "into a batch_id=-1 subdirectory (they stay readable as one "
            "legacy batch), or point the stream at a fresh out_dir."
        )
    # same hazard, schema axis: batches written by the counting-probe
    # era carry n_near_candidates; the decision-only probe writes
    # near_dup. Mixing them makes spark.read.parquet resolve whichever
    # footer it samples first and silently null the other column.
    # one file PER batch subdirectory, not one arbitrary glob hit: a
    # partially-migrated log mixing counting-era and decision-era
    # batches would pass a single-sample guard whenever the sampled
    # file happened to be new-schema — exactly the silent-null mix
    # the guard exists to reject. Footer reads are cheap and the
    # batch count is bounded by ingest cadence, so one per batch is
    # an acceptable driver-side cost.
    sample_per_batch = []
    for batch_dir in sorted(glob.glob(os.path.join(out_dir, "batch_id=*"))):
        batch_files = sorted(glob.glob(os.path.join(batch_dir, "*.parquet")))
        if batch_files:
            sample_per_batch.append(batch_files[0])
    for f in sample_per_batch:
        import pyarrow.parquet as pq

        if "n_near_candidates" in pq.read_schema(f).names:
            raise RuntimeError(
                f"decision log at {out_dir!r} was written by the "
                "counting-probe schema (n_near_candidates); this stream "
                "now writes the decision-only schema (near_dup boolean). "
                "Point the stream at a fresh out_dir, or migrate the old "
                "batches (SELECT doc_id, exact_dup_of, "
                "n_near_candidates > 0 AS near_dup, state)."
            )


def stream_ingest_probe(
    spark: SparkSession,
    docs_path: str,
    state_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    schema: Any = None,
) -> Any:
    """Streaming incremental ingest — the R4 (exactly-once file
    tracking) + R5 (stream joins static state) composition of
    ``pipeline/ingest_increment``: document files ARRIVE in
    ``docs_path``; each micro-batch is probed against the persisted
    dedup state (content-hash + LSH band stores — batch-native joins
    inside ``foreachBatch``), the per-document decisions land in
    ``out_dir/batch_id=N``, and admitted NEW documents transition the
    state so later micro-batches see them as duplicates. The
    checkpoint makes ingestion restart-driven: invoking the stream
    again after new files land processes ONLY the new files.

    Each micro-batch is one ``pipeline/ingest_increment.ingest_batch``
    step: one band pin, one decision write to ``out_dir/batch_id=N``
    (read back for the appends), and two concurrent state appends.

    Delivery semantics, precisely: exactly-once applies to SOURCE
    FILE TRACKING (the checkpoint never feeds a consumed file to a
    second batch); the foreachBatch body itself is at-least-once, so
    both side effects are built to converge under replay. The
    decision write is idempotent per batch — a deterministic
    ``batch_id=N`` directory overwrite, so a crash between the write
    and the checkpoint commit re-writes the same directory instead of
    appending duplicate rows. The state transition is self-healing:
    a replayed batch whose admissions already committed re-probes as
    exact_dup (of itself, now in state), so it admits nothing twice
    and the state store never double-appends. The one replay-visible
    artifact is that such a batch's re-written decisions record
    exact_dup-of-self instead of the original 'new' — the admission
    is still attributable (exact_dup_of points at the admitted row),
    and state remains exactly correct. Decisions are written BEFORE
    the state transition, so in the no-failure path each document's
    decision reflects the state at its own arrival. An empty batch is
    detected only after its (data-free) decision write, which is then
    removed; a crash between that write and the removal leaves a
    transient empty ``batch_id=N`` directory in the decision log.
    Readers see no rows from it, and because the checkpoint has not
    committed the batch, the replay writes and removes it again.

    The probe reads the state store (``state_dir`` parquet): each of
    its two joins scans the stored leg, which broadcasts while small
    and shuffles once it is not."""
    import shutil

    from ..pipeline.ingest_increment import ingest_batch

    _check_decision_log_layout(out_dir)

    # the file-stream source needs an explicit schema; infer it from
    # the landed files only when the caller cannot supply one (a
    # repeat invocation against a known drop folder passes it and
    # skips a footer-sampling driver job per invocation — r15 opt)
    if schema is None:
        schema = spark.read.parquet(docs_path).schema

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        dec_dir = f"{out_dir}/batch_id={batch_id}"
        _, counts = ingest_batch(spark, batch_df, state_dir, decisions_dir=dec_dir)
        if counts["decided"] == 0:
            # an empty micro-batch: the decision log gains nothing
            shutil.rmtree(dec_dir, ignore_errors=True)

    docs = spark.readStream.schema(schema).parquet(docs_path)
    return _drain(docs.writeStream.foreachBatch(handle), checkpoint_dir)
