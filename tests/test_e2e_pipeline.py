"""Full-pipeline integration test over the real synthetic tables:
documents → slices → embeddings → classification → keywords →
vector-store points, all stages chained, all stub models — the
Spark analog of running every reference node back-to-back."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from welearn_datastack_spark.pipeline.classifier import classify_slices, document_verdicts
from welearn_datastack_spark.pipeline.keywords import extract_and_link
from welearn_datastack_spark.pipeline.qdrant_sync import (
    build_points,
    doc_top2_sdgs,
    route_collections,
    sync,
)
from welearn_datastack_spark.pipeline.vectorizer import vectorize
from welearn_datastack_spark.sources.tables import load_table


def test_full_enrichment_chain(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(60)
    n_docs = docs.count()

    # vectorize: slice + embed
    slices = vectorize(
        docs.select(F.col("doc_id").cast("string").alias("id"), F.col("text").alias("full_content")),
        slice_length=12,
    )
    assert slices.count() >= n_docs  # every doc yields ≥1 slice
    assert slices.select("document_id").distinct().count() == n_docs
    one = slices.first()
    assert abs(np.linalg.norm(np.array(one["embedding"])) - 1.0) < 1e-5

    # classify
    classified = classify_slices(
        slices.select("document_id", F.col("order_sequence").alias("slice_seq"), "embedding")
    )
    verdicts = document_verdicts(classified)
    assert verdicts.count() == n_docs

    # keywords
    dim, links = extract_and_link(
        docs.select(F.col("doc_id").cast("string").alias("document_id"), F.col("text").alias("description")),
        spark.createDataFrame([], "keyword string, id string"),
        spark.createDataFrame([], "document_id string, keyword_id string"),
    )
    assert links.select("document_id").distinct().count() == n_docs
    # dictionary ids are deterministic → re-extraction is a no-op
    dim2, _ = extract_and_link(
        docs.select(F.col("doc_id").cast("string").alias("document_id"), F.col("text").alias("description")),
        dim,
        links,
    )
    assert dim2.count() == dim.count()

    # vector-store sync: route, top-2, points, overwrite
    doc_meta = docs.select(
        F.col("doc_id").cast("string").alias("document_id"),
        F.lit("t").alias("title"),
        F.lit("https://x").alias("url"),
        "lang",
        F.col("source").alias("corpus"),
        F.lit("model-a").alias("model_name"),
    )
    collections = spark.createDataFrame(
        [("en", "model-a", "c_en"), ("multi", "model-a", "c_multi")],
        ["lang", "model_name", "collection"],
    )
    routed = route_collections(doc_meta, collections)
    assert routed.filter(F.col("target_collection").isNull()).count() == 0

    top2 = doc_top2_sdgs(classified.select("document_id", "sdg"))
    points = build_points(
        slices.select("document_id", "order_sequence", "body", "embedding").join(
            classified.select(
                "document_id", F.col("slice_seq").alias("order_sequence"), "sdg"
            ),
            on=["document_id", "order_sequence"],
        ),
        doc_meta,
        top2,
    )
    n_points = points.count()
    assert n_points == slices.count()

    store = sync(points.limit(0), points.select("point_id", "document_id", "vector", "payload"))
    assert store.count() == n_points
    # re-sync is idempotent
    again = sync(store, points.select("point_id", "document_id", "vector", "payload"))
    assert again.count() == n_points


def test_enrich_cli_writes_every_stage(spark, sf_dir, tmp_path, monkeypatch):
    """``jobs enrich`` end to end on the session under test: one point
    per slice, every document linked to its keywords."""
    from welearn_datastack_spark import jobs, session

    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    out = str(tmp_path / "enriched")
    jobs.main(["enrich", "--sf-dir", sf_dir, "--out", out])
    read = spark.read.parquet
    n_docs = load_table(spark, sf_dir, "documents").count()
    slices = read(f"{out}/slices")
    assert slices.select("document_id").distinct().count() == n_docs
    points = read(f"{out}/points")
    assert points.count() == slices.count()
    assert points.select("point_id").distinct().count() == slices.count()
    assert read(f"{out}/verdicts").count() == n_docs
    assert read(f"{out}/keyword_links").select("document_id").distinct().count() == n_docs


def test_ingest_increment_end_to_end(spark, sf_dir, tmp_path):
    """The composed incremental-ingest pipeline: state build → probe →
    decisions → state transitions, with the two structural guarantees
    a production ingest needs — (a) probe cost scales with |batch|
    (the stored corpus is a plain parquet scan of pre-computed state,
    never re-shingled), (b) admitting a batch transitions state so a
    re-probe of the same batch flags every doc an exact duplicate."""
    from welearn_datastack_spark.pipeline.ingest_increment import (
        build_state,
        ingest_batch,
        ingest_increment,
        probe_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    batch_pred = F.col("doc_id") % 5 == 0
    state = str(tmp_path / "state")

    build_state(docs.filter(~batch_pred), state)
    batch = docs.filter(batch_pred)
    decisions = probe_batch(spark, batch, state)

    # (a) plan shape: the probe reads the PERSISTED state (band_store
    # + doc_hashes parquet — identified by their ReadSchemas, which
    # survive the toString path truncation) and tokenizes text only on
    # the batch side — the stored corpus is never re-shingled
    plan = decisions._jdf.queryExecution().executedPlan().toString()
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert any("band:int,band_key:string" in ln for ln in schemas), schemas
    assert any("content_hash:string" in ln for ln in schemas), schemas
    text_scans = [ln for ln in schemas if "text:string" in ln]
    # exactly two text scans: the batch's content-hash leg + its
    # shingle leg — a third would mean the corpus side re-reads text
    assert len(text_scans) == 2, text_scans
    # both text scans carry the batch's mod-5 residual — stated by the
    # lone Filter ancestor pattern: no text scan without the batch cut
    assert plan.count("% 5) = 0") >= 2, plan[:2000]
    rows = decisions.collect()
    got = {r["doc_id"]: r for r in rows}
    assert set(got) == {r["doc_id"] for r in batch.select("doc_id").collect()}
    states = {r["state"] for r in rows}
    assert states <= {"exact_dup", "near_dup", "new"}
    # decisions are internally consistent
    for r in rows:
        if r["state"] == "exact_dup":
            assert r["exact_dup_of"] is not None and r["exact_dup_of"] % 5 != 0
        elif r["state"] == "near_dup":
            assert r["exact_dup_of"] is None and r["near_dup"]
        else:
            assert r["exact_dup_of"] is None

    # (b) transitions: ingest_batch decides the batch exactly as the
    # probe did (its decisions are materialized BEFORE the appends)
    # and admits the NEW docs; re-probing the SAME batch now finds each
    # former-new doc as an exact dup of itself (its hash is in the store)
    n_new = sum(1 for r in rows if r["state"] == "new")
    ingested, counts = ingest_batch(spark, batch, state)
    assert counts == {"decided": len(rows), "admitted": n_new}
    assert sorted(map(tuple, ingested.collect())) == sorted(map(tuple, rows))
    reprobe = {r["doc_id"]: r for r in probe_batch(spark, batch, state).collect()}
    for doc_id, r in got.items():
        if r["state"] == "new":
            assert reprobe[doc_id]["state"] == "exact_dup"
            assert reprobe[doc_id]["exact_dup_of"] == doc_id

    # the one-call composed job over a fresh state dir matches the
    # step-by-step decisions
    state2 = str(tmp_path / "state2")
    out = str(tmp_path / "out")
    composed = ingest_increment(spark, docs, state2, out_dir=out, batch_mod=5)
    assert {(r["doc_id"], r["state"]) for r in composed.collect()} == {
        (r["doc_id"], r["state"]) for r in rows
    }


def test_ingest_params_persisted_with_state(spark, sf_dir, tmp_path):
    """The LSH parameterization is a property of the STATE STORE:
    build_state persists it, probe_batch/ingest_batch read it
    back, and a later ingest_increment call passing DIFFERENT params
    must be overruled by the store's own (probing a store with
    mismatched bands would silently find nothing)."""
    from welearn_datastack_spark.pipeline.ingest_increment import (
        LshParams,
        build_state,
        ingest_increment,
        load_params,
        probe_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    batch_pred = F.col("doc_id") % 5 == 0
    state = str(tmp_path / "state")
    custom = LshParams(shingle_n=2, n_hashes=12, rows_per_band=3)
    assert custom.n_bands == 4 and abs(custom.s50 - 0.25 ** (1 / 3)) < 1e-9
    build_state(docs.filter(~batch_pred), state, params=custom)
    assert load_params(state) == custom

    # the probe picks the persisted params up: its band leg must use
    # 12 hashes (the wide minhash agg emits one _mh<seed> column per
    # seed since the r16 rewrite — _mh11 present, _mh12 absent)
    probe = probe_batch(spark, docs.filter(batch_pred), state)
    plan = probe._jdf.queryExecution().analyzed().toString()
    assert "_mh11" in plan and "_mh12" not in plan, plan[:3000]

    # a composed call against the EXISTING store with conflicting
    # params: the store's persisted parameterization wins
    ingest_increment(
        spark, docs, state, batch_mod=5, params=LshParams(n_hashes=4)
    )
    assert load_params(state) == custom

    # the store stays self-consistent: re-probing the same batch after
    # its admission flags every former-new doc as its own exact dup
    reprobe = probe_batch(spark, docs.filter(batch_pred), state)
    assert reprobe.filter(F.col("state") == "new").count() == 0


def test_stream_ingest_probe_exactly_once(spark, sf_dir, tmp_path):
    """The streaming drop-folder ingest: two arrivals processed by two
    checkpointed availableNow invocations, then a third invocation
    with NO new files — which must decide nothing (exactly-once file
    tracking). Phase-B decisions must see phase-A admissions."""
    import glob
    import shutil

    from welearn_datastack_spark.pipeline.ingest_increment import build_state
    from welearn_datastack_spark.streaming.state_machine import stream_ingest_probe

    docs = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    work = str(tmp_path)
    build_state(docs.filter(m.isin(1, 2, 3)), f"{work}/state")
    src = f"{work}/incoming"

    def land(df, name):
        df.coalesce(1).write.mode("overwrite").parquet(f"{work}/tmp_{name}")
        part = glob.glob(f"{work}/tmp_{name}/part-*.parquet")[0]
        import os

        os.makedirs(src, exist_ok=True)
        shutil.copy(part, f"{src}/{name}.parquet")

    land(docs.filter(m == 4), "a")
    stream_ingest_probe(spark, src, f"{work}/state", f"{work}/ckpt", f"{work}/out")
    n_a = spark.read.parquet(f"{work}/out").count()
    assert n_a == docs.filter(m == 4).count()

    land(docs.filter(m == 0), "b")
    stream_ingest_probe(spark, src, f"{work}/state", f"{work}/ckpt", f"{work}/out")
    out = spark.read.parquet(f"{work}/out")
    assert out.count() == docs.filter(m.isin(0, 4)).count()

    # a B doc whose content hash matches an ADMITTED (state=new) A doc
    # must be flagged exact_dup — phase B saw phase A's transitions
    rows = {r["doc_id"]: r for r in out.collect()}
    from welearn_datastack_spark.pipeline.ingest_increment import content_hashes

    ch = {r["doc_id"]: r["content_hash"] for r in content_hashes(docs).collect()}
    admitted_a = {
        d for d, r in rows.items() if d % 5 == 4 and r["state"] == "new"
    }
    admitted_hashes = {ch[d] for d in admitted_a}
    corpus_hashes = {
        r["doc_id"]: r["content_hash"]
        for r in content_hashes(docs.filter(m.isin(1, 2, 3))).collect()
    }
    cross = [
        d
        for d in rows
        if d % 5 == 0
        and ch[d] in admitted_hashes
        and ch[d] not in corpus_hashes.values()
    ]
    for d in cross:
        assert rows[d]["state"] == "exact_dup", (d, rows[d])

    # third invocation, no new files: the checkpoint remembers both
    # consumed files — nothing is re-decided, the log does not grow
    stream_ingest_probe(spark, src, f"{work}/state", f"{work}/ckpt", f"{work}/out")
    assert spark.read.parquet(f"{work}/out").count() == out.count()


def test_state_maintenance_cycle_equivalence(spark, sf_dir, tmp_path):
    """The maintenance cycle: ingest appends fragments -> compact
    folds them. Decisions must be IDENTICAL before and after the fold,
    and the fold must actually shrink the file count — the same
    discipline snapshot_tail_read proved for the state log, applied
    to the dedup state store."""
    from welearn_datastack_spark.pipeline.ingest_increment import (
        build_state,
        compact_state,
        ingest_batch,
        load_params,
        probe_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    state = str(tmp_path / "state")
    build_state(docs.filter(m.isin(1, 2, 3)), state)
    ingest_batch(spark, docs.filter(m == 4), state)

    key = lambda r: (r["doc_id"], r["exact_dup_of"], r["near_dup"], r["state"])
    batch_b = docs.filter(m == 0)
    before = sorted(map(key, probe_batch(spark, batch_b, state).collect()))

    import glob

    n_before = len(glob.glob(f"{state}/band_store/part-*.parquet"))
    compact_state(spark, state)
    n_after = len(glob.glob(f"{state}/band_store/part-*.parquet"))
    assert n_after < n_before, (n_before, n_after)
    # the params sidecar survives the fold
    assert load_params(state).n_hashes == 8

    after = sorted(map(key, probe_batch(spark, batch_b, state).collect()))
    assert after == before


@pytest.mark.parametrize("to_dir", [False, True], ids=["checkpoint", "decisions_dir"])
def test_ingest_batch_state_matches_from_scratch(spark, sf_dir, tmp_path, to_dir):
    """After one ingest_batch, the state store holds exactly the
    content hashes and band keys of corpus ∪ admitted computed from
    scratch: the appends from the pinned batch frames add the admitted
    rows and nothing else, whichever way the decisions are
    materialized."""
    from welearn_datastack_spark.pipeline.ingest_increment import (
        band_keys,
        build_state,
        content_hashes,
        ingest_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    batch_pred = F.col("doc_id") % 5 == 0
    corpus, batch = docs.filter(~batch_pred), docs.filter(batch_pred)
    state = str(tmp_path / "state")
    build_state(corpus, state)
    decisions, counts = ingest_batch(
        spark, batch, state, decisions_dir=str(tmp_path / "dec") if to_dir else None
    )
    admitted = [r["doc_id"] for r in decisions.filter(F.col("state") == "new").collect()]
    assert counts["admitted"] == len(admitted) > 0
    assert counts["decided"] == batch.count()

    grown = corpus.unionByName(batch.filter(F.col("doc_id").isin(admitted)))

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(spark.read.parquet(f"{state}/doc_hashes")) == rows(content_hashes(grown))
    assert rows(spark.read.parquet(f"{state}/band_store")) == rows(band_keys(grown))


def test_interrupted_build_state_keeps_store_params(spark, sf_dir, tmp_path, monkeypatch):
    """A build_state killed after both parquet legs landed must still
    leave a store that describes itself: the next ingest_increment
    skips the build (band_store exists) and has to probe with the
    store's own custom params, deciding exactly like an uninterrupted
    store built with them."""
    import welearn_datastack_spark.pipeline.ingest_increment as inc

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    custom = inc.LshParams(shingle_n=2, n_hashes=12, rows_per_band=3)
    state = str(tmp_path / "state")

    real = inc._run_concurrently

    def legs_then_killed(*thunks):
        real(*thunks)
        raise RuntimeError("killed after the legs")

    with monkeypatch.context() as mp:
        mp.setattr(inc, "_run_concurrently", legs_then_killed)
        with pytest.raises(RuntimeError, match="killed after the legs"):
            inc.build_state(corpus, state, params=custom)
    assert inc.load_params(state) == custom

    got = inc.ingest_increment(spark, docs, state, batch_mod=5)
    want = inc.ingest_increment(
        spark, docs, str(tmp_path / "clean"), batch_mod=5, params=custom
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
