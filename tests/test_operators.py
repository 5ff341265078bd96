"""Unit tests of operator modules on literal DataFrames — the
port of the reference's seeded-row relational tests
(tests/test_retrieve_data_from_database.py) and scalar-function tests
(tests/test_scraping_utils.py, tests/test_computed_metadata.py)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from welearn_datastack_spark.functions import text as T
from welearn_datastack_spark.functions.metadata import predict_duration, predict_readability
from welearn_datastack_spark.operators.relational import get_or_create, overwrite_by_key
from welearn_datastack_spark.operators.state_log import (
    byte_budget_admission,
    capped_buckets,
    latest_state,
)
from welearn_datastack_spark.operators.topk import top_k_frequent


def test_latest_state(spark):
    log = spark.createDataFrame(
        [
            (1, 10, "url_retrieved", "2024-01-01"),
            (1, 20, "document_scraped", "2024-01-02"),
            (2, 5, "url_retrieved", "2024-01-01"),
        ],
        ["user_id", "event_id", "event_type", "ts"],
    )
    out = {r["user_id"]: r["event_type"] for r in latest_state(log).collect()}
    assert out == {1: "document_scraped", 2: "url_retrieved"}


def test_byte_budget_admission_cutoff(spark):
    df = spark.createDataFrame([(i, 100) for i in range(10)], ["id", "sz"])
    kept = byte_budget_admission(df, "sz", budget=350, order_by=[F.asc("id")]).collect()
    assert [r["id"] for r in kept] == [0, 1, 2]  # 3*100 <= 350 < 4*100


def test_capped_buckets_drops_overflow(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], ["id"])
    out = capped_buckets(df, order_by=[F.asc("id")], threshold=10, max_buckets=3)
    rows = out.collect()
    assert len(rows) == 30  # 70 rows silently dropped, like batch_generator.py:55-62
    assert {r["bucket"] for r in rows} == {0, 1, 2}


def test_top_k_frequent_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (1, "b"), (1, "c")], ["g", "v"]
    )
    rows = top_k_frequent(df, "g", "v", k=2).orderBy("rnk").collect()
    # a and b tie at 2; tiebreak value-asc → a then b
    assert [(r["v"], r["cnt"], r["rnk"]) for r in rows] == [("a", 2, 1), ("b", 2, 2)]


def test_get_or_create_idempotent(spark):
    dim = spark.createDataFrame([("alpha", "id-a")], ["keyword", "id"])
    incoming = spark.createDataFrame([("alpha",), ("beta",), ("beta",)], ["keyword"])
    merged = get_or_create(dim, incoming, key="keyword")
    rows = {r["keyword"]: r["id"] for r in merged.collect()}
    assert rows["alpha"] == "id-a"  # existing id preserved
    assert len(rows) == 2
    # idempotent: merging again changes nothing
    again = get_or_create(merged, incoming, key="keyword")
    assert sorted(r["keyword"] for r in again.collect()) == ["alpha", "beta"]

    def reference(dim, incoming):
        # the union + anti-join form the one-pass merge replaces
        created = (
            incoming.select("keyword").dropDuplicates(["keyword"])
            .join(dim.select("keyword"), on="keyword", how="left_anti")
            .withColumn("id", F.md5("keyword"))
        )
        return dim.select("keyword", "id").unionByName(created.select("keyword", "id"))

    schema = "keyword string, id string"
    cases = [
        # a duplicate-key dim: both rows survive, no id is created
        ([("alpha", "id-a"), ("alpha", "id-a2"), ("gamma", "id-g")], [("alpha",), ("beta",)]),
        # a NULL key on both sides: never matches, the incoming one is created
        ([("alpha", "id-a"), (None, "id-null")], [(None,), (None,), ("alpha",), ("delta",)]),
        # an existing NULL id stays NULL, it is not replaced by md5(key)
        ([("alpha", None), ("beta", "id-b")], [("alpha",), ("beta",), ("eps",)]),
        # empty sides
        ([], [("alpha",)]),
        ([("alpha", "id-a")], []),
    ]
    for dim_rows, incoming_rows in cases:
        dim = spark.createDataFrame(dim_rows, schema)
        incoming = spark.createDataFrame(incoming_rows, "keyword string")
        got = sorted(map(tuple, get_or_create(dim, incoming, key="keyword").collect()), key=repr)
        want = sorted(map(tuple, reference(dim, incoming).collect()), key=repr)
        assert got == want, (dim_rows, incoming_rows)


def test_overwrite_by_key(spark):
    existing = spark.createDataFrame([(1, "old"), (2, "keep")], ["k", "v"])
    incoming = spark.createDataFrame([(1, "new")], ["k", "v"])
    out = {r["k"]: r["v"] for r in overwrite_by_key(existing, incoming, "k").collect()}
    assert out == {1: "new", 2: "keep"}


def test_text_functions(spark):
    df = spark.createDataFrame(
        [("  a   b\tc\n",)], ["s"]
    ).select(
        T.remove_extra_whitespace(F.col("s")).alias("ws"),
        T.remove_html_tags(F.lit("<p>hi</p> there")).alias("tags"),
        T.clean_doi(F.lit("https://doi.org/10.1/x")).alias("doi"),
        T.strip_hal_versioning(F.lit("https://hal.science/hal-01v2")).alias("hal"),
        T.dehyphenate(F.lit("hyphen-\nated")).alias("dehyph"),
        T.lexicon_count(F.lit("one two three!")).alias("lex"),
        T.sentence_count(F.lit("First one. Second two three! tail")).alias("sent"),
        T.sentence_count(F.lit("no enders at all")).alias("sent_floor"),
    )
    r = df.collect()[0]
    assert r["ws"] == "a b c"
    assert r["tags"] == "hi there"
    assert r["doi"] == "10.1/x"
    assert r["hal"] == "https://hal.science/hal-01"
    assert r["dehyph"] == "hyphenated"
    assert r["lex"] == 3
    assert r["sent"] == 2
    assert r["sent_floor"] == 1


def test_inverted_abstract_reconstruction(spark):
    # OpenAlex inverted abstract: {word: [positions]} → original text
    df = spark.createDataFrame(
        [Row(m={"world": [1], "hello": [0], "again": [2, 3]})]
    ).select(T.inverted_abstract_to_text(F.col("m")).alias("txt"))
    assert df.collect()[0]["txt"] == "hello world again again"


def test_readability_and_duration_are_strings(spark):
    df = spark.createDataFrame(
        [("Simple words here. More words now.", "en"), ("texto", "zh")], ["text", "lang"]
    ).select(
        predict_readability(F.col("text"), F.col("lang")).alias("r"),
        predict_duration(F.col("text"), F.col("lang")).alias("d"),
    )
    rows = df.collect()
    assert isinstance(rows[0]["r"], str) and isinstance(rows[0]["d"], str)
    assert 0.0 <= float(rows[0]["r"]) <= 100.0
    assert rows[1]["r"] is None  # unsupported language → NULL (ref behavior)
    assert rows[1]["d"] == "0"  # 1 word / default 184 wpm * 60 → int() == 0


def test_bfs_ignores_null_destinations(spark):
    from welearn_datastack_spark.operators.graph import bfs_min_depth

    edges = spark.createDataFrame(
        [(1, 2), (2, None), (1, None)], "src bigint, dst bigint"
    )
    seeds = spark.createDataFrame([(1,)], ["node"])
    rows = sorted((r["node"], r["depth"]) for r in bfs_min_depth(edges, seeds, 4).collect())
    assert rows == [(1, 0), (2, 1)]  # no (null, d) rows, no duplicates


def test_word_window_slices_empty_doc_emits_nothing(spark, sf_dir):
    # Spark sequence(0,-1) yields [0,-1]; the builder must guard it
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

    _load_groups()
    build = REGISTRY["word_window_slices"].build
    docs = spark.createDataFrame([(1, "two words"), (2, "   "), (3, "")], ["doc_id", "text"])
    docs.createOrReplaceTempView("documents")
    # builder reads from parquet; exercise the same expression directly
    from pyspark.sql import functions as F

    toks = docs.select("doc_id", F.regexp_extract_all("text", F.lit(r"\S+"), 0).alias("t"))
    n_slices = F.ceil(F.size("t") / 15.0).cast("int")
    bodies = F.when(
        n_slices > 0,
        F.transform(
            F.sequence(F.lit(0), n_slices - 1),
            lambda i: F.array_join(F.slice(F.col("t"), i * 15 + 1, 15), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = toks.select("doc_id", F.posexplode(bodies)).collect()
    assert [r["doc_id"] for r in out] == [1]


def test_asof_tie_click_at_purchase_timestamp(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [
            (5, 1, "click", t0),      # same ts as purchase, LARGER id
            (2, 1, "purchase", t0),   # must still see the click (<= is inclusive)
            (9, 2, "purchase", t0),   # user with no click → null
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    ev.write.mode("overwrite").parquet("/tmp/asof_tie_events")
    # run the registered builder against a table dir shaped like testdata
    import shutil, os

    d = "/tmp/asof_tie_sf"
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    # craft an events.parquet with µs timestamps like the real table
    ev.selectExpr(
        "event_id", "unix_micros(ts) * 1000 AS ts", "user_id", "event_type",
        "cast(0.0 as double) AS value", "'{}' AS props"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups

    _load_groups()
    out = {r["event_id"]: r["last_click_ts"] for r in
           REGISTRY["asof_join_last_click"].build(spark, d).collect()}
    assert out[2] is not None and out[2] == t0  # tie included
    assert out[9] is None


def test_connected_components_two_clusters(spark):
    from welearn_datastack_spark.operators.graph import connected_components_min_label

    # {1,2,3} via chain, {7,9} separate, 5 isolated (no edges → absent)
    edges = spark.createDataFrame([(1, 2), (2, 3), (9, 7)], ["src", "dst"])
    out = {r["node"]: r["component"] for r in connected_components_min_label(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_connected_components_star_matches_min_label(spark):
    """The star-contraction CC (the dense-graph scale path) must agree
    with min-label propagation on every topology: chains (diameter),
    dense cliques, stars, and a pseudo-random union of them."""
    import random

    from welearn_datastack_spark.operators.graph import (
        connected_components_min_label,
        connected_components_star,
    )

    rng = random.Random(7)
    edges = []
    # long chain 0..19 (worst case for diameter-bound algorithms)
    edges += [(i, i + 1) for i in range(19)]
    # dense clique 100..109 (worst case for edge-list-sized rounds)
    clique = list(range(100, 110))
    edges += [(a, b) for a in clique for b in clique if a < b]
    # star centered at 200
    edges += [(200, 200 + i) for i in range(1, 8)]
    # random components over 300..349
    for _ in range(40):
        edges.append((rng.randrange(300, 350), rng.randrange(300, 350)))
    edges = [e for e in edges if e[0] != e[1]]
    df = spark.createDataFrame(edges, ["src", "dst"])
    # min_label needs O(diameter) rounds — its default 15 caps out on
    # the 19-hop chain (star converges in O(log n) regardless)
    a = {r["node"]: r["component"] for r in
         connected_components_min_label(df, max_iters=25).collect()}
    b = {r["node"]: r["component"] for r in connected_components_star(df).collect()}
    assert a == b and len(b) > 60
    assert all(b[i] == 0 for i in range(20))  # the chain resolves fully


def test_connected_components_star_empty_and_nulls(spark):
    from welearn_datastack_spark.operators.graph import connected_components_star

    df = spark.createDataFrame([(1, None), (None, 2), (3, 3), (3, 4), (7, 7)],
                               "src bigint, dst bigint")
    out = {r["node"]: r["component"] for r in connected_components_star(df).collect()}
    # null-endpoint edges dropped entirely; a redundant self-loop on a
    # connected node (3,3) changes nothing; a node seen ONLY in
    # self-loops (7,7) survives as its own singleton component — the
    # same contract as connected_components_min_label's symmetrize
    assert out == {3: 3, 4: 3, 7: 7}
    empty = df.filter("src IS NULL AND dst IS NULL")
    assert connected_components_star(empty).count() == 0


def test_star_edges_matches_pair_closure(spark):
    """star_edges (bucket-min → member) must yield IDENTICAL connected
    components to the full |bucket|²/2 candidate-pair stream — the
    equivalence that lets dedup_clusters/dedup_canonical_pick feed CC
    a linear edge object instead of the quadratic pair stream. Also
    pins the linear edge-count contract: Σ(bucket size − 1) before
    cross-bucket dedup, src = bucket min < dst."""
    from welearn_datastack_spark.operators.dedup import lsh_candidates, star_edges
    from welearn_datastack_spark.operators.graph import connected_components_star

    # band-key layout mirroring lsh_band_keys output: one mega-bucket
    # (a 12-clique in pair form), overlapping buckets that chain
    # components together, and singletons that must emit nothing
    rows = (
        [(i, 0, "hot") for i in range(12)]
        + [(11, 1, "bridge"), (20, 1, "bridge")]
        + [(20, 0, "b2"), (21, 0, "b2")]
        + [(30, 0, "solo")]
        + [(40, 1, "x"), (41, 1, "x")]
    )
    bands = spark.createDataFrame(rows, "doc_id bigint, band int, band_key string")
    edges = star_edges(bands, ["band", "band_key"], "doc_id")
    got = {(r["src"], r["dst"]) for r in edges.collect()}
    # hot bucket: 11 star edges, not 66 pairs; singleton bucket: none
    assert {(0, i) for i in range(1, 12)} <= got
    assert all(s < d for s, d in got)
    assert len(got) == 11 + 1 + 1 + 1
    pairs = lsh_candidates(bands, "doc_id").selectExpr("a_id AS src", "b_id AS dst")
    cc_star = {r["node"]: r["component"] for r in connected_components_star(edges).collect()}
    cc_pairs = {r["node"]: r["component"] for r in connected_components_star(pairs).collect()}
    assert cc_star == cc_pairs
    # the bridge chains {0..11}+{20,21} into one component rooted at 0
    assert cc_star[21] == 0 and cc_star[40] == 40


def test_sketch_profile_error_bounds(spark):
    """Sketch estimates must sit within their advertised error of the
    exact answers (the contract that makes them usable as a profiling
    substitute at scale)."""
    from welearn_datastack_spark.plans.registry import REGISTRY, _load_groups
    from welearn_datastack_spark.sources.tables import load_table

    _load_groups()
    sf_dir = "/root/testdata/sf0.01"
    got = {r["source"]: r for r in REGISTRY["sketch_corpus_profile"].build(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        r["source"]: r
        for r in docs.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("nd"),
            F.expr("percentile(n_chars, 0.5)").alias("p50"),
        )
        .collect()
    }
    for src, e in exact.items():
        g = got[src]
        # the query now emits error-bound booleans (driver-hashable);
        # exact n_docs cross-checks the countDistinct leg
        assert g["n_docs"] == e["nd"], (src, g, e)
        assert g["hll_ok"] and g["p50_ok"] and g["p90_ok"] and g["p99_ok"], (src, g)


def test_pdf_header_footer_strip_keeps_one_off_lines(spark):
    """Modal-position strip: repeated running heads and 'Page N'
    footers vanish, but a first-page-only title line (not modal at its
    position) survives (RefinedDocument analog, operators/pdf_refine.py)."""
    from welearn_datastack_spark.operators.pdf_refine import refine_pdf_pages

    rows = []
    for p in range(1, 5):
        lines = [
            "Running Head",
            f"Vol. 7 No. {p}",
            ("ACTUAL TITLE OF THE PAPER" if p == 1 else f"body text {p} alpha"),
            f"more body {p}",
            f"Page {p}",
            "(c) Press",
        ]
        rows.append((1, p, lines))
    df = spark.createDataFrame(rows, "doc_id int, page_no int, lines array<string>")
    (out,) = refine_pdf_pages(df, k=2).collect()
    text = out["text"]
    assert "Running Head" not in text
    assert "Vol. 7" not in text
    assert "Page 2" not in text
    assert "(c) Press" not in text
    # one-off title at a non-modal position survives
    assert "ACTUAL TITLE OF THE PAPER" in text
    assert "body text 3 alpha" in text and "more body 4" in text
    # page order preserved
    assert text.index("ACTUAL TITLE") < text.index("body text 2")


def test_pdf_strip_single_page_untouched(spark):
    """With one page there is no repetition evidence — nothing strips
    (threshold requires >= 2 pages)."""
    from welearn_datastack_spark.operators.pdf_refine import refine_pdf_pages

    df = spark.createDataFrame(
        [(1, 1, ["Header", "body", "Page 1"])],
        "doc_id int, page_no int, lines array<string>",
    )
    (out,) = refine_pdf_pages(df, k=1).collect()
    assert out["text"] == "Header body Page 1"


def test_bounded_input_guard_rejects_large_frames(spark):
    """bounded_input=True routes through a single-task global window —
    acceptable only for LIMIT-capped batch frames. The runtime guard
    must fail the job when an unbounded-sized frame sneaks in, and
    stay invisible (zero result change) under the ceiling."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    from welearn_datastack_spark.operators.state_log import (
        byte_budget_admission,
        capped_buckets,
    )

    small = spark.range(50).select(F.col("id"), F.lit(10).alias("sz"))
    ok = byte_budget_admission(
        small, "sz", budget=200, order_by=[F.asc("id")], bounded_input=True
    ).collect()
    assert [r["id"] for r in ok] == list(range(20))  # 20*10 = 200 fits

    big = spark.range(500).select(F.col("id"), F.lit(1).alias("sz"))
    with pytest.raises(SparkRuntimeException, match="bounded_input"):
        byte_budget_admission(
            big, "sz", budget=10**9, order_by=[F.asc("id")],
            bounded_input=True, max_bounded_rows=100,
        ).collect()
    with pytest.raises(SparkRuntimeException, match="bounded_input"):
        capped_buckets(
            big, order_by=[F.asc("id")], threshold=50, max_buckets=1000,
            bounded_input=True, max_bounded_rows=100,
        ).collect()


def _per_task_output_rows(pairs):
    """Exact pair-output rows per join task: bucket_pairs /
    simhash_near_pairs end in a select over the pinned chunk-pair
    join with no further exchange, so spark_partition_id() on the
    result IS the generating task."""
    from pyspark.sql import functions as F

    return [
        r["n"]
        for r in pairs.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]


def test_chunk_subsplit_bounds_hot_bucket_task_width(spark):
    """The ~chunk_target² per-task bound, DEMONSTRATED on a
    boilerplate-heavy corpus instead of asserted by construction: one
    mega-bucket of 2000 members (a 2M-pair clique). With the sub-split
    no task may emit more than c·chunk_target² pairs (c covers the
    expected chunk-pairs-per-task packing); the no-split control
    exceeds that bound by an order of magnitude because the whole
    clique's pairs erupt from single tasks."""
    from welearn_datastack_spark.operators.dedup import bucket_pairs

    n, chunk_target = 2000, 100
    df = spark.range(n).selectExpr(
        "CAST(0 AS INT) AS bucket", "id AS doc_id", "id % 7 AS payload"
    )
    split = bucket_pairs(
        df, ["bucket"], "doc_id", ["payload"], chunk_target=chunk_target
    )
    widths = _per_task_output_rows(split)
    total = sum(widths)
    assert total == n * (n - 1) // 2  # every unordered pair exactly once
    par = spark.sparkContext.defaultParallelism
    import math

    s = math.ceil(n / chunk_target)
    n_chunk_pairs = s * (s + 1) // 2
    # expected chunk pairs per task with headroom for hash packing;
    # each chunk pair emits <= ~(n/s)² ~ chunk_target² pairs
    c = 3 * math.ceil(n_chunk_pairs / par)
    bound = c * chunk_target * chunk_target
    assert max(widths) <= bound, (max(widths), bound)

    # no-split control: chunk_target >= bucket size -> s=1, the whole
    # clique's pair generation lands on single tasks and blows the
    # same bound
    control = bucket_pairs(
        df, ["bucket"], "doc_id", ["payload"], chunk_target=n
    )
    ctrl_widths = _per_task_output_rows(control)
    assert sum(ctrl_widths) == total
    assert max(ctrl_widths) > bound, (max(ctrl_widths), bound)


def test_simhash_subsplit_bounds_boilerplate_corpus(spark):
    """Same empiricism for simhash_near_pairs: 1200 documents with an
    IDENTICAL fingerprint (the boilerplate worst case — every band
    bucket is the full corpus). Per-task surviving-pair output stays
    within the packing bound; the no-split control concentrates the
    whole clique in single tasks."""
    import math

    from pyspark.sql import functions as F

    from welearn_datastack_spark.operators.dedup import simhash_near_pairs

    n, chunk_target = 1200, 100
    fp = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(12345).cast("long").alias("simhash")
    )
    pairs = simhash_near_pairs(
        fp, "doc_id", bits=16, n_bands=4, max_hamming=3, chunk_target=chunk_target
    )
    widths = _per_task_output_rows(pairs)
    assert sum(widths) == n * (n - 1) // 2  # hamming 0, first band emits all
    par = spark.sparkContext.defaultParallelism
    s = math.ceil(n / chunk_target)
    # surviving pairs all come from band 0's s(s+1)/2 chunk pairs
    c = 3 * math.ceil((s * (s + 1) // 2) / par)
    bound = c * chunk_target * chunk_target
    assert max(widths) <= bound, (max(widths), bound)

    control = simhash_near_pairs(
        fp, "doc_id", bits=16, n_bands=4, max_hamming=3, chunk_target=n
    )
    ctrl = _per_task_output_rows(control)
    assert sum(ctrl) == n * (n - 1) // 2
    assert max(ctrl) > bound, (max(ctrl), bound)
