"""End-to-end pipeline-stage tests — the port of the reference's
node-level tests (tests/document_vectorizer/, tests/document_classifier/,
tests/qdrant_syncronizer/) with deterministic stub models."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from welearn_datastack_spark.functions.udfs import (
    pack_slices,
    slice_documents,
    stub_embedder,
)
from welearn_datastack_spark.pipeline.classifier import (
    classify_slices,
    document_verdicts,
    non_sdg_documents,
)
from welearn_datastack_spark.pipeline.collector import (
    collect_documents,
    split_errors,
    validate,
)
from welearn_datastack_spark.pipeline.keywords import extract_and_link
from welearn_datastack_spark.pipeline.qdrant_sync import (
    build_points,
    doc_top2_sdgs,
    route_collections,
    sync,
)
from welearn_datastack_spark.pipeline.state import make_transitions
from welearn_datastack_spark.pipeline.url_ingest import insert_urls
from welearn_datastack_spark.pipeline.vectorizer import vectorize


def test_pack_slices_budget_and_truncation():
    text = "one two three. four five six seven. " + " ".join(["w"] * 30) + "."
    out = pack_slices(text, slice_length=5)
    assert out[0] == "one two three."  # 3+4 > 5 → new slice
    assert out[1] == "four five six seven."
    assert out[2].endswith("…") and len(out[2].rstrip("…").split()) == 5  # oversized truncated


def test_slice_documents_order_sequence(spark):
    docs = spark.createDataFrame(
        [("d1", "First sentence. Second sentence. Third one here.")], ["id", "full_content"]
    )
    rows = slice_documents(docs, "id", "full_content", slice_length=4).collect()
    assert [r["order_sequence"] for r in rows] == list(range(len(rows)))
    assert all(r["body"] for r in rows)


def test_vectorize_produces_unit_vectors(spark):
    docs = spark.createDataFrame(
        [("d1", "alpha beta gamma. delta epsilon."), ("d2", "zeta eta theta.")],
        ["id", "full_content"],
    )
    out = vectorize(docs, slice_length=3).collect()
    assert {r["document_id"] for r in out} == {"d1", "d2"}
    for r in out:
        v = np.array(r["embedding"])
        assert v.shape == (64,)
        assert abs(np.linalg.norm(v) - 1.0) < 1e-5  # L2-normalized like the reference


def test_vectorize_replaces_old_slices(spark):
    docs = spark.createDataFrame([("d1", "new content here.")], ["id", "full_content"])
    old = vectorize(
        spark.createDataFrame([("d1", "old."), ("d2", "other doc.")], ["id", "full_content"])
    )
    merged = vectorize(docs, existing_slices=old)
    bodies = {r["document_id"]: r["body"] for r in merged.collect()}
    assert bodies["d1"] == "new content here."  # replaced
    assert bodies["d2"] == "other doc."  # untouched


def _slice_df(spark):
    emb = stub_embedder()(["climate energy water", "random words here", "poverty hunger"])
    return spark.createDataFrame(
        [
            ("doc1", 0, [float(x) for x in emb[0]]),
            ("doc1", 1, [float(x) for x in emb[1]]),
            ("doc2", 0, [float(x) for x in emb[2]]),
        ],
        ["document_id", "order_sequence", "embedding"],
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))


def test_classifier_forced_override_nulls_provenance(spark):
    slices = _slice_df(spark)
    forced = spark.createDataFrame([("doc1", [7])], ["document_id", "forced_sdgs"])
    out = classify_slices(slices, forced_doc_sdgs=forced).collect()
    for r in out:
        if r["document_id"] == "doc1":
            # single forced SDG short-circuits: n_classifier_id nulled
            # (reference sdgs_classifiers.py:81,121)
            assert r["n_classifier_id"] is None
            if r["is_sdg"]:
                assert r["sdg"] == 7
        else:
            assert r["n_classifier_id"] == "n-clf-v1"


def test_document_verdicts_any_true(spark):
    slices = _slice_df(spark)
    classified = classify_slices(slices)
    verdicts = {r["document_id"]: r["doc_is_sdg"] for r in document_verdicts(classified).collect()}
    assert set(verdicts) == {"doc1", "doc2"}
    non_sdg = non_sdg_documents(slices, classified).collect()
    sdg_docs = {
        r["document_id"] for r in classified.collect() if r["sdg"] is not None
    }
    assert {r["document_id"] for r in non_sdg} == {"doc1", "doc2"} - sdg_docs


def test_collector_dispatch_validation_and_error_channel(spark):
    cands = spark.createDataFrame(
        [
            ("1", "https://hal.science/doc1", "hal"),
            ("2", "https://example.org/bad-page", "wiki"),
            ("3", "https://example.org/ok", "wiki"),
        ],
        ["id", "url", "corpus"],
    )
    extracted = validate(collect_documents(cands))
    good, errors = split_errors(extracted)
    good_rows = {r["id"]: r for r in good.collect()}
    err_rows = {r["document_id"]: r for r in errors.collect()}
    assert set(good_rows) == {"1", "3"}
    assert "hal plugin" in good_rows["1"]["full_content"]
    assert err_rows["2"]["http_error_code"] == 422  # R6 dead-letter, not exception


def test_keywords_get_or_create_and_relink(spark):
    docs = spark.createDataFrame(
        [("d1", "solar energy solar power"), ("d2", "ocean water ocean")],
        ["document_id", "description"],
    )
    dim0 = spark.createDataFrame([("solar", "kw-solar")], ["keyword", "id"])
    links0 = spark.createDataFrame([], "document_id string, keyword_id string")
    dim, links = extract_and_link(docs, dim0, links0)
    dim_rows = {r["keyword"]: r["id"] for r in dim.collect()}
    assert dim_rows["solar"] == "kw-solar"  # existing id survives (J8)
    link_rows = links.collect()
    assert {r["document_id"] for r in link_rows} == {"d1", "d2"}
    # d1's solar link must resolve to the pre-existing id
    assert ("d1", "kw-solar") in {(r["document_id"], r["keyword_id"]) for r in link_rows}


def _kw_docs(spark):
    return spark.createDataFrame(
        [("d1", "solar energy solar power"), ("d2", "ocean water ocean"),
         ("d3", "wind power wind"), ("d4", "solar ocean tides")],
        ["document_id", "description"],
    ).repartition(4)


def test_custom_keyword_loader_is_not_shadowed_by_the_stub(spark):
    # a worker that has run the stub must not answer a custom loader
    # from the stub's cache entry (both use the default model name)
    docs = _kw_docs(spark)
    dim0 = spark.createDataFrame([], "keyword string, id string")
    links0 = spark.createDataFrame([], "document_id string, keyword_id string")
    stub_dim, _ = extract_and_link(docs, dim0, links0)
    assert "solar" in {r["keyword"] for r in stub_dim.collect()}
    dim, links = extract_and_link(
        docs, dim0, links0, model_loader=lambda: (lambda t: ["CUSTOM"])
    )
    assert {r["keyword"] for r in dim.collect()} == {"CUSTOM"}
    assert links.count() == 4


def test_keyword_stage_runs_the_model_once_per_document(spark):
    from welearn_datastack_spark.functions.udfs import stub_keyword_extractor

    calls = spark.sparkContext.accumulator(0)

    def loader():
        # every task ships (and registers) its own copy of ``calls``;
        # the cached model outlives the task that loaded it, so it adds
        # to the copy registered for the running task, looked up on
        # the worker at call time
        aid, stub = calls.aid, stub_keyword_extractor()

        def model(text):
            from pyspark.accumulators import _accumulatorRegistry

            _accumulatorRegistry[aid].add(1)
            return stub(text)

        return model

    docs = _kw_docs(spark)
    dim, links = extract_and_link(
        docs,
        spark.createDataFrame([("solar", "kw-solar")], ["keyword", "id"]),
        spark.createDataFrame([("d9", "kw-old")], ["document_id", "keyword_id"]),
        model_loader=loader,
    )
    for df in (dim, links):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "Pandas" not in plan, plan
    assert {r["keyword"]: r["id"] for r in dim.collect()}["solar"] == "kw-solar"
    assert {r["document_id"] for r in links.collect()} == {"d1", "d2", "d3", "d4", "d9"}
    dim.count()
    links.count()
    assert calls.value == 4


def test_qdrant_sync_routing_top2_and_overwrite(spark):
    collections = spark.createDataFrame(
        [
            ("en", "model-a", "coll_en_a"),
            ("multi", "model-a", "coll_multi_a"),
        ],
        ["lang", "model_name", "collection"],
    )
    docs = spark.createDataFrame(
        [
            ("d1", "Doc One", "https://x/1", "en", "hal", "model-a"),
            ("d2", "Doc Two", "https://x/2", "zz", "hal", "model-a"),
        ],
        ["document_id", "title", "url", "lang", "corpus", "model_name"],
    )
    routed = {r["document_id"]: r["target_collection"] for r in route_collections(docs, collections).collect()}
    assert routed == {"d1": "coll_en_a", "d2": "coll_multi_a"}  # multilingual fallback

    slice_sdgs = spark.createDataFrame(
        [("d1", 3), ("d1", 3), ("d1", 5), ("d1", 5), ("d1", 1)], ["document_id", "sdg"]
    )
    top2 = doc_top2_sdgs(slice_sdgs).collect()[0]
    assert top2["document_sdgs"] == [3, 5]  # counts tie → sdg asc (documented tiebreak)

    slices = spark.createDataFrame(
        [("d1", 0, "body text", [0.1, 0.2], 3)],
        ["document_id", "order_sequence", "body", "embedding", "sdg"],
    )
    points = build_points(slices, docs.filter("document_id='d1'"), doc_top2_sdgs(slice_sdgs))
    p = points.collect()[0]
    assert p["point_id"] == "d1:0"
    assert p["payload"]["document_sdg"] == [3, 5]
    # overwrite-by-key: syncing same doc replaces, others survive
    store = spark.createDataFrame(
        [("d1:9", "d1", [0.0], None), ("dX:0", "dX", [1.0], None)],
        "point_id string, document_id string, vector array<double>, payload_str string",
    )
    new = points.select(
        "point_id",
        "document_id",
        F.col("vector").cast("array<double>").alias("vector"),
        F.lit(None).cast("string").alias("payload_str"),
    )
    synced = sync(store, new)
    assert {r["point_id"] for r in synced.collect()} == {"d1:0", "dX:0"}


def test_insert_urls_dedup_and_scheme_filter(spark):
    existing = spark.createDataFrame([("https://a/1",)], ["url"])
    incoming = spark.createDataFrame(
        [
            ("https://a/1", "hal"),  # already known → skipped
            ("https://a/2", "hal"),
            ("https://a/2", "hal"),  # batch dup → one row
            ("http://a/3", "hal"),  # not https → filtered (P7)
        ],
        ["url", "corpus"],
    )
    out = insert_urls(existing, incoming).collect()
    assert [r["url"] for r in out] == ["https://a/2"]
    assert out[0]["id"]  # deterministic id assigned


def test_resolve_embedding_models_latest_per_lang(spark):
    # J5/W1: latest model per (corpus, lang); falls back to older model
    # when the newest has no matching language row
    docs = spark.createDataFrame(
        [("d1", "c1", "en"), ("d2", "c1", "fr"), ("d3", "c2", "en")],
        ["id", "corpus_id", "lang"],
    )
    cx = spark.createDataFrame(
        [("c1", "m1", "2024-01-01"), ("c1", "m2", "2024-06-01"), ("c2", "m1", "2024-01-01")],
        ["corpus_id", "model_id", "used_since"],
    )
    models = spark.createDataFrame(
        [("m1", "emb-v1", "en"), ("m1", "emb-v1", "fr"), ("m2", "emb-v2", "en")],
        ["model_id", "model_name", "lang"],
    )
    from welearn_datastack_spark.pipeline.vectorizer import resolve_embedding_models

    out = {r["id"]: r["model_name"] for r in resolve_embedding_models(docs, cx, models).collect()}
    assert out == {"d1": "emb-v2", "d2": "emb-v1", "d3": "emb-v1"}


def test_pack_slices_split_oversized_preserves_all_words():
    text = " ".join(f"w{i}" for i in range(53))  # punctuation-less document
    truncated = pack_slices(text, slice_length=20)
    preserved = pack_slices(text, slice_length=20, split_oversized=True)
    assert len(truncated) == 1 and truncated[0].endswith("…")  # reference behavior
    # data-preserving mode: every word survives, in order, within budget
    rejoined = " ".join(preserved)
    assert rejoined == text
    assert len(preserved) == 3
    assert all(len(s.split()) <= 20 for s in preserved)


def test_slice_udtf_matches_pack_slices(spark):
    from pyspark.sql.functions import col, lit

    from welearn_datastack_spark.functions.udfs import SliceUDTF, pack_slices
    from welearn_datastack_spark.session import ensure_self_on_executors

    ensure_self_on_executors(spark)
    spark.udtf.register("slice_udtf", SliceUDTF)
    docs = spark.createDataFrame(
        [("d1", "one two three. four five six seven."), ("d2", " ".join(["w"] * 45))],
        ["id", "text"],
    )
    docs.createOrReplaceTempView("udtf_docs")
    rows = spark.sql(
        "SELECT id, s.order_sequence, s.body FROM udtf_docs, "
        "LATERAL slice_udtf(text, 20) s"
    ).collect()
    by_doc = {}
    for r in sorted(rows, key=lambda r: (r["id"], r["order_sequence"])):
        by_doc.setdefault(r["id"], []).append(r["body"])
    assert by_doc["d1"] == pack_slices("one two three. four five six seven.", 20, True)
    assert by_doc["d2"] == pack_slices(" ".join(["w"] * 45), 20, True)


def test_build_points_payload_completeness(spark):
    """Payload carries EVERY field of the reference's
    convert_slice_in_qdrant_point (qdrant_handler.py:114-138),
    including document_desc / document_details / document_scrape_date."""
    import datetime as dt

    from welearn_datastack_spark.pipeline.qdrant_sync import (
        build_points,
        doc_top2_sdgs,
    )

    docs = spark.createDataFrame(
        [
            (
                "d1",
                "Doc One",
                "https://x/1",
                "en",
                "hal",
                "a short description",
                '{"doi": "10.1/x"}',
                dt.datetime(2024, 5, 1, 12, 0, 0),
            )
        ],
        "document_id string, title string, url string, lang string, "
        "corpus string, description string, details string, created_at timestamp",
    )
    slices = spark.createDataFrame(
        [("d1", 0, "body text", [0.1, 0.2], 3)],
        ["document_id", "order_sequence", "body", "embedding", "sdg"],
    )
    sdgs = doc_top2_sdgs(spark.createDataFrame([("d1", 3)], ["document_id", "sdg"]))
    (p,) = build_points(slices, docs, sdgs).collect()
    pay = p["payload"].asDict()
    expected_keys = {
        "document_title", "payload_document_id", "document_url",
        "document_lang", "slice_content", "document_corpus",
        "document_desc", "document_details", "document_scrape_date",
        "document_sdg", "slice_sdg",
    }
    assert set(pay) == expected_keys
    assert pay["document_desc"] == "a short description"
    assert pay["document_details"] == '{"doi": "10.1/x"}'
    assert pay["document_scrape_date"].startswith("2024-05-01")


def test_merge_details_strict_and_nonstrict(spark):
    """ref computed_metadata.py:251-252: non-strict keeps existing
    keys; strict overwrites; nested values survive as real JSON."""
    import json as _json

    from pyspark.sql import functions as F

    from welearn_datastack_spark.operators.details import merge_details

    df = spark.createDataFrame(
        [("a", '{"duration": "5", "keep": 1}'), ("b", None), ("c", "{}")],
        "id string, details string",
    )
    out = merge_details(
        df,
        {
            "duration": F.lit("9"),
            "langs": F.array(F.lit("en"), F.lit("fr")),
        },
    )
    got = {r["id"]: _json.loads(r["details"]) for r in out.collect()}
    assert got["a"]["duration"] == "5"  # existing key untouched
    assert got["a"]["keep"] == 1
    assert got["a"]["langs"] == ["en", "fr"]  # nested value, real JSON
    assert got["b"] == {"duration": "9", "langs": ["en", "fr"]}
    assert got["c"]["duration"] == "9"

    strict = merge_details(df, {"duration": F.lit("9")}, strict=True)
    got2 = {r["id"]: _json.loads(r["details"]) for r in strict.collect()}
    assert got2["a"]["duration"] == "9"  # strict recompute overwrites


def test_make_transitions_orders_small_batch(spark):
    ids = spark.createDataFrame([(7,), (3,), (5,)], ["document_id"])
    out = make_transitions(ids, "document_id", "url_retrieved", base_order=100)
    rows = {r["document_id"]: r["operation_order"] for r in out.collect()}
    # deterministic rank on the id, offset by base_order
    assert rows == {3: 101, 5: 102, 7: 103}


def test_make_transitions_guard_trips_on_unbounded_frame(spark):
    """Feeding an over-ceiling frame into the single-task global
    window must fail loudly (the 100 TB silent-serialization guard),
    not quietly produce a one-core plan."""
    from welearn_datastack_spark.operators.state_log import BOUNDED_INPUT_MAX_ROWS

    big = spark.range(BOUNDED_INPUT_MAX_ROWS + 1).select(
        F.col("id").alias("document_id")
    )
    out = make_transitions(big, "document_id", "url_retrieved", base_order=0)
    with pytest.raises(Exception, match="bounded_input"):
        out.agg(F.max("operation_order")).collect()
