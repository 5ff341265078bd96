"""Extra query group — closes the remaining SURVEY.md §2 inventory
items as driver-visible oracle-checked queries: P1 octet_length
projections, F16/F17 date parsing, F4/F5/F6 string cleanup, A5
grouped collection, J9 broadcast lookup, J10 extracted-key
re-association, F24/W5 slicing (SQL-expressible word-window variant),
S16 overwrite-by-key, F18 inverted-abstract round-trip, the
LSH-bucketed ANN scale path, the streaming state machine, and
multimodal metadata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import fan_out_for_compute, load_table
from .registry import register


@register(
    "octet_projection",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           CAST(length(text) AS INT) AS n_codepoints,
           md5(text) AS checksum
    FROM documents
    """,
    doc="P1 + multimodal metadata: byte-length projection the byte-budget "
    "admission reads (ref retrieve_data_from_database.py:76-95 "
    "octet_length) + content checksum",
)
def octet_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.octet_length("text").alias("n_bytes"),
        F.length("text").alias("n_codepoints"),
        F.md5("text").alias("checksum"),
    )


@register(
    "date_parts",
    """
    SELECT event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
           date_trunc('day', ts)::TIMESTAMP AS day_ts,
           CAST(hour(ts) AS INT) AS hr
    FROM events
    """,
    doc="F16/F17: timestamp → epoch seconds / day truncation / hour "
    "(ref hal.py:86-100, ted.py:103-107 date parsing)",
)
def date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.unix_timestamp("ts").alias("epoch_s"),
        F.date_trunc("day", "ts").alias("day_ts"),
        F.hour("ts").alias("hr"),
    )


@register(
    "string_cleanup_chain",
    """
    SELECT doc_id,
           replace('https://doi.org/10.5555/' || doc_id, 'https://doi.org/', '') AS doi,
           regexp_replace('https://hal.science/hal-' || doc_id || 'v' || (doc_id % 7 + 1),
                          'v[0-9]+$', '') AS hal_url,
           lower(replace(CASE doc_id % 3 WHEN 0 THEN 'CC BY 4.0'
                                         WHEN 1 THEN 'CC BY-SA 3.0'
                                         ELSE 'CC0 1.0' END, ' ', '-')) AS license_slug
    FROM documents
    """,
    doc="F4/F5/F6: doi prefix strip, HAL version-suffix strip, CC "
    "license canonicalization (ref scraping_utils.py:59-74,159-183)",
)
def string_cleanup_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import clean_doi, strip_hal_versioning

    docs = load_table(spark, sf_dir, "documents")
    doi_raw = F.concat(F.lit("https://doi.org/10.5555/"), F.col("doc_id").cast("string"))
    hal_raw = F.concat(
        F.lit("https://hal.science/hal-"),
        F.col("doc_id").cast("string"),
        F.lit("v"),
        (F.col("doc_id") % 7 + 1).cast("string"),
    )
    license_raw = (
        F.when(F.col("doc_id") % 3 == 0, "CC BY 4.0")
        .when(F.col("doc_id") % 3 == 1, "CC BY-SA 3.0")
        .otherwise("CC0 1.0")
    )
    return docs.select(
        "doc_id",
        clean_doi(doi_raw).alias("doi"),
        strip_hal_versioning(hal_raw).alias("hal_url"),
        F.lower(F.replace(license_raw, F.lit(" "), F.lit("-"))).alias("license_slug"),
    )


@register(
    "grouped_event_list",
    """
    SELECT user_id,
           array_to_string(list(event_id ORDER BY event_id), ',') AS event_ids,
           CAST(len(list(event_id)) AS INT) AS n
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
    doc="A5: slices-per-document grouping as ordered collect_list "
    "(ref document_classifier.py:80-87 itertools.groupby). The ordered id "
    "list is emitted as a ','-joined string so the driver's pandas "
    "canonicalizer (which sorts on output cells) gets hashable scalars; "
    "groups are never empty so array_to_string's NULL-on-empty quirk "
    "cannot fire.",
)
def grouped_event_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return ev.groupBy("user_id").agg(
        F.concat_ws(",", F.sort_array(F.collect_list("event_id"))).alias("event_ids"),
        F.count(F.lit(1)).cast("int").alias("n"),
    )


@register(
    "broadcast_lookup",
    """
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           ROUND(SUM(s.s_acctbal), 2) AS sum_acctbal
    FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY n.n_name
    """,
    doc="J9: broadcast dimension lookup join (ref slice_id→sdg dict, "
    "retrieve_data_from_database.py:416-429). The hinted side is "
    "nation — a GENUINELY bounded dim (25 rows at any SF), matching "
    "the reference's in-memory dict; SF-scaling tables never carry "
    "broadcast hints in this repo (see tests/test_plans.py).",
)
def broadcast_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    return (
        supp.join(nation, supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("sum_acctbal"),
        )
    )


@register(
    "api_reassociation",
    """
    SELECT e.event_id, d.doc_id, d.source
    FROM (SELECT event_id,
                 CAST(NULLIF(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS INT) AS k
          FROM events) e
    JOIN documents d ON d.doc_id = e.k
    """,
    doc="J10: API-result re-association — join on a regexp-extracted "
    "key (ref hal.py:243-252 halId extraction, ted.py:56-57). "
    "NULLIF before the cast: a record with no extractable key must "
    "drop out of the join, not crash the ANSI cast.",
)
def api_reassociation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.nullif(F.regexp_extract("props", r'"k": ([0-9]+)', 1), F.lit(""))
        .cast("int")
        .alias("k"),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return ev.join(docs, ev.k == docs.doc_id).select("event_id", "doc_id", "source")


@register(
    "word_window_slices",
    """
    SELECT doc_id, CAST(i AS INT) AS order_sequence,
           array_to_string(t[i * 15 + 1 : i * 15 + 15], ' ') AS body
    FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents),
         unnest(generate_series(0, CAST(ceil(len(t) / 15.0) AS INT) - 1)) AS g(i)
    """,
    doc="F24/W5 (SQL-expressible variant): fixed word-window slicing "
    "with per-document order_sequence — the UDTF shape of the "
    "sentence-packer (exact sentence semantics live in "
    "functions/udfs.py:slice_documents)",
)
def word_window_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tokenized = docs.select(
        "doc_id", F.regexp_extract_all("text", F.lit(r"\S+"), 0).alias("t")
    )
    n_slices = F.ceil(F.size("t") / 15.0).cast("int")
    # guard n_slices=0: Spark's sequence(0, -1) yields [0, -1] (step
    # defaults to -1 when start > stop) — two phantom slices for an
    # empty document, where DuckDB's generate_series(0,-1) is empty
    bodies = F.when(
        n_slices > 0,
        F.transform(
            F.sequence(F.lit(0), n_slices - 1),
            lambda i: F.array_join(F.slice(F.col("t"), i * 15 + 1, 15), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return tokenized.select(
        "doc_id", F.posexplode(bodies).alias("order_sequence", "body")
    )


@register(
    "overwrite_by_key_sync",
    """
    SELECT doc_id, val FROM (
      SELECT doc_id, 'old' AS val FROM documents d
      WHERE doc_id % 2 = 0
        AND NOT EXISTS (SELECT 1 FROM documents i
                        WHERE i.doc_id = d.doc_id AND i.doc_id % 4 = 0)
      UNION ALL
      SELECT doc_id, 'new' AS val FROM documents WHERE doc_id % 4 = 0
    )
    """,
    doc="S16: delete+upsert ≡ overwrite-by-key MERGE (ref qdrant delete "
    "by doc filter + upsert, qdrant_handler.py:68-111)",
)
def overwrite_by_key_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import overwrite_by_key

    docs = load_table(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", F.lit("old").alias("val")
    )
    incoming = docs.filter(F.col("doc_id") % 4 == 0).select(
        "doc_id", F.lit("new").alias("val")
    )
    return overwrite_by_key(existing, incoming, key="doc_id")


@register(
    "inverted_abstract_roundtrip",
    """
    SELECT doc_id,
           COALESCE(array_to_string(regexp_extract_all(text, '\\w+'), ' '), '') AS reconstructed
    FROM documents
    """,
    doc="F18: OpenAlex inverted-abstract reconstruction — build the "
    "{word: [positions]} map in-engine, then invert it back to text "
    "with pure array algebra; the oracle states the expected fixpoint "
    "(ref open_alex.py:63-67)",
)
def inverted_abstract_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import inverted_abstract_to_text

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.regexp_extract_all("text", F.lit(r"\w+"), 0)).alias("pos", "w")
    )
    inverted = toks.groupBy("doc_id", "w").agg(F.collect_list("pos").alias("positions"))
    maps = inverted.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("w", "positions"))).alias("m")
    )
    # token-less documents vanish at the posexplode — rejoin so they
    # reconstruct to '' like the oracle's array_to_string of an empty list
    return docs.select("doc_id").join(maps, on="doc_id", how="left").select(
        "doc_id",
        F.coalesce(inverted_abstract_to_text(F.col("m")), F.lit("")).alias("reconstructed"),
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN — the scale path for similarity search. The random
# hyperplanes come from operators/similarity.derive_planes (the single
# source of the formula); Spark and the SQL oracle share them as
# literals.
# ---------------------------------------------------------------------------

from ..operators.similarity import bucket_key_col, derive_planes  # noqa: E402

_N_PLANES = 6
_DIMS = 64
_PLANES = derive_planes(seed=42, n_bits=_N_PLANES, dims=_DIMS)


def _bucket_sql() -> str:
    parts = []
    for p in _PLANES:
        arr = "[" + ", ".join(str(x) for x in p) + "]"
        parts.append(
            "CASE WHEN list_sum(list_transform(generate_series(1, 64),"
            f" i -> CAST(embedding[i] AS DOUBLE) * ({arr}::DOUBLE[])[i])) >= 0"
            " THEN '1' ELSE '0' END"
        )
    return " || ".join(parts)


def _bucket_col() -> F.Column:
    return bucket_key_col(F.col("embedding"), _PLANES)


@register(
    "lsh_ann_topk",
    f"""
    WITH tagged AS (
      SELECT vec_id, embedding, {_bucket_sql()} AS bucket FROM embeddings
    ), q AS (SELECT vec_id AS q_id, embedding AS qe, bucket FROM tagged WHERE vec_id < 10),
    c AS (SELECT vec_id AS c_id, embedding AS ce, bucket FROM tagged WHERE vec_id >= 10),
    pairs AS (
      SELECT q.q_id, c.c_id, q.bucket,
             ROUND(
               list_sum(list_transform(generate_series(1, 64),
                 i -> CAST(q.qe[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(generate_series(1, 64),
                    i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(generate_series(1, 64),
                    i -> CAST(c.ce[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE))))), 6) AS cosine
      FROM q JOIN c ON c.bucket = q.bucket
    )
    SELECT q_id, c_id, cosine, rnk FROM (
      SELECT q_id, c_id, cosine,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY cosine DESC, c_id ASC) AS INT) AS rnk
      FROM pairs
    ) WHERE rnk <= 3
    """,
    doc="Similarity search, scale path: random-hyperplane LSH buckets → "
    "bucket-local equi-join candidates → top-3 per query. At 100 TB the "
    "bucket join replaces the broadcast cross product: both sides "
    "shuffle once on a uniform key (see operators/similarity.py)",
)
def lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import bucket_topk

    emb = load_table(spark, sf_dir, "embeddings")
    tagged = emb.select("vec_id", "embedding", _bucket_col().alias("bucket"))
    q = tagged.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"), "bucket"
    )
    # plane projection + bucket-local cosine are compute-dense per
    # row — don't inherit a single-split scan's parallelism (no-op on
    # already-parallel layouts)
    c = fan_out_for_compute(
        tagged.filter(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce"), "bucket"
        )
    )
    # bucket_topk broadcasts the bounded PROBE side (|Q| query
    # vectors) explicitly: both sides derive from the same scan, so
    # Catalyst estimates q at corpus size and would otherwise shuffle
    # every corpus embedding on the bucket key (measured: 906 B at sf1
    # flipping to 16 MB at sf3 when the misestimated side outgrew the
    # threshold). With the broadcast the corpus is map-scanned only;
    # the large-|Q| regime instead pre-buckets BOTH sides in storage
    # (bucketed layout, §6) rather than broadcasting.
    return bucket_topk(q, c, k=3, on=("bucket",))


@register(
    "stream_latest_state",
    """
    SELECT user_id, event_id AS last_event_id, event_type AS last_event_type
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    doc="R1/R2: Structured-Streaming stateful latest-state "
    "(applyInPandasWithState, AvailableNow trigger) — the stream's "
    "final state must equal the batch arg-max, which is the oracle",
)
def stream_latest_state_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.state_machine import stream_latest_state

    out = _gate_stream(spark, "stream_ls", sf_dir, stream_latest_state)
    w = Window.partitionBy("user_id").orderBy(F.desc("last_event_id"))
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "last_event_id", "last_event_type")
    )


@register(
    "multimodal_decode",
    """
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 34 = 0 THEN 10
                     WHEN doc_id % 17 = 0 THEN 4
                     WHEN doc_id % 2 = 0 THEN 45 ELSE 41 END AS BIGINT) AS n_bytes,
           CAST(CASE WHEN doc_id % 17 = 0 THEN NULL
                     ELSE 16 + (doc_id * 7) % 512 END AS INT) AS width,
           CAST(CASE WHEN doc_id % 17 = 0 THEN NULL
                     ELSE 16 + (doc_id * 13) % 512 END AS INT) AS height,
           CAST(CASE WHEN doc_id % 17 = 0 THEN NULL ELSE 1 END AS INT) AS n_frames,
           CASE WHEN doc_id % 17 = 0 THEN 'dead_letter' ELSE 'ok' END AS status
    FROM documents
    """,
    doc="Multimodal: REAL byte-derived image decode (round-14 verdict "
    "item 3). Structurally valid PNG (signature + IHDR with real crc32 "
    "+ IEND) and JPEG (SOI + APP0/JFIF + SOF0 + EOI) payloads are "
    "synthesized as pure JVM binary expressions with dimensions that "
    "are arithmetic in doc_id; the mapInPandas decode stage then "
    "extracts width/height by PARSING THE BYTES (PNG IHDR u32s, JPEG "
    "marker-segment walk to SOF0 — operators/multimodal.py:"
    "parse_image_header, no image library needed), and the oracle "
    "recomputes the dimensions arithmetically — any synth or parser "
    "defect breaks the value hash. Corrupt payloads (truncated PNG "
    "signature every 34th doc, non-image garbage every 17th) decode "
    "to null dims and route to status='dead_letter' — bad rows are "
    "data, not exceptions (R6). A PIL/ffmpeg decoder still drops into "
    "the decode_fn seam without touching the plan.",
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import decode_media, synth_jpeg, synth_png

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    w = (F.lit(16) + (F.col("doc_id") * 7) % 512).cast("int")
    h = (F.lit(16) + (F.col("doc_id") * 13) % 512).cast("int")
    payload = (
        # truncated PNG: full 8-byte signature, no IHDR → parser must
        # length-check, not trust the magic
        F.when(F.col("doc_id") % 34 == 0, F.unhex(F.lit("89504E470D0A1A0A0000")))
        # non-image garbage: neither magic matches
        .when(F.col("doc_id") % 17 == 0, F.unhex(F.lit("DEADBEEF")))
        .when(F.col("doc_id") % 2 == 0, synth_png(w, h))
        .otherwise(synth_jpeg(w, h))
    )
    media = docs.select("doc_id", payload.alias("payload"))
    decoded = decode_media(media, "payload")  # default = header_decoder
    return decoded.select(
        "doc_id",
        F.octet_length("payload").cast("bigint").alias("n_bytes"),
        "width",
        "height",
        "n_frames",
        F.when(F.col("width").isNull(), F.lit("dead_letter"))
        .otherwise(F.lit("ok"))
        .alias("status"),
    )


@register(
    "materialized_view_refresh",
    """
    SELECT user_id, last_event_type, CAST(COUNT(*) AS BIGINT) AS n FROM (
      SELECT user_id, event_type AS last_event_type
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY event_id DESC) AS rn
            FROM events) WHERE rn = 1
    ) GROUP BY user_id, last_event_type
    """,
    doc="S18: REFRESH MATERIALIZED VIEW = CREATE OR REPLACE view + query "
    "(ref update_materialized_view.py:26-45, identifier sanitized "
    "against the same ^[\\w.]+$ rule)",
)
def materialized_view_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re as _re

    from ..sources.tables import register_views

    view_name = "mv_latest_state"
    if not _re.fullmatch(r"[\w.]+", view_name):  # ref regular_expression.py:43
        raise ValueError(f"illegal identifier {view_name!r}")
    register_views(spark, sf_dir)
    spark.sql(
        f"""
        CREATE OR REPLACE TEMPORARY VIEW {view_name} AS
        SELECT user_id, event_type AS last_event_type
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                           ORDER BY event_id DESC) AS rn
              FROM events) WHERE rn = 1
        """
    )
    return spark.sql(
        f"SELECT user_id, last_event_type, COUNT(*) AS n FROM {view_name}"
        " GROUP BY user_id, last_event_type"
    )


@register(
    "license_allowlist_filter",
    """
    SELECT doc_id, license_slug FROM (
      SELECT doc_id, lower(replace(CASE doc_id % 5 WHEN 0 THEN 'CC BY 4.0'
                                                   WHEN 1 THEN 'CC BY-SA 3.0'
                                                   WHEN 2 THEN 'All Rights Reserved'
                                                   WHEN 3 THEN 'CC0 1.0'
                                                   ELSE 'Proprietary' END, ' ', '-')) AS license_slug
      FROM documents
    ) WHERE license_slug IN ('cc-by-4.0', 'cc-by-sa-3.0', 'cc0-1.0')
    """,
    doc="P8: AUTHORIZED_LICENSES allow-list predicate (ref "
    "constants.py:169-185, enforced at e.g. open_alex.py:312-323); "
    "disallowed rows route to the error channel in the pipeline",
)
def license_allowlist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    raw = (
        F.when(F.col("doc_id") % 5 == 0, "CC BY 4.0")
        .when(F.col("doc_id") % 5 == 1, "CC BY-SA 3.0")
        .when(F.col("doc_id") % 5 == 2, "All Rights Reserved")
        .when(F.col("doc_id") % 5 == 3, "CC0 1.0")
        .otherwise("Proprietary")
    )
    slug = F.lower(F.replace(raw, F.lit(" "), F.lit("-")))
    return (
        docs.select("doc_id", slug.alias("license_slug"))
        .filter(F.col("license_slug").isin("cc-by-4.0", "cc-by-sa-3.0", "cc0-1.0"))
    )


@register(
    "typography_repair",
    r"""
    SELECT doc_id,
           regexp_replace(regexp_replace('First.Second:' || substr(text, 1, 20) || 'smallBig',
                                         '([.!?;:])(\w)', '\1 \2', 'g'),
                          '([a-z])([A-Z])', '\1 \2', 'g') AS repaired
    FROM documents
    """,
    doc="F7: typography repair — space after closing punctuation, space "
    "before interior capitals (ref scraping_utils.py:133-156)",
)
def typography_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import add_space_after_closing_sign, add_space_before_capital_letter

    docs = load_table(spark, sf_dir, "documents")
    broken = F.concat(F.lit("First.Second:"), F.substring("text", 1, 20), F.lit("smallBig"))
    return docs.select(
        "doc_id",
        add_space_before_capital_letter(add_space_after_closing_sign(broken)).alias("repaired"),
    )


@register(
    "pdf_cleanup_chain",
    r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               replace(replace('ﬁnal ﬂow' || chr(7) || 'hyphen-
  ated ' || substr(text, 1, 15), 'ﬁ', 'fi'), 'ﬂ', 'fl'),
               '-\s*\n\s*', '', 'g'),
             '[^\x20-\x7E]', '', 'g') AS cleaned
    FROM documents
    """,
    doc="F19: PDF text cleanup chain — ligature replacement, "
    "dehyphenation across line breaks, non-printable strip (ref "
    "pdf_extractor.py:81-183, WORD_CUT_BY_BACKLINES_REGEX "
    "regular_expression.py:28)",
)
def pdf_cleanup_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import dehyphenate

    docs = load_table(spark, sf_dir, "documents")
    dirty = F.concat(
        F.lit("ﬁnal ﬂow\x07hyphen-\n  ated "), F.substring("text", 1, 15)
    )
    deligatured = F.replace(F.replace(dirty, F.lit("ﬁ"), F.lit("fi")), F.lit("ﬂ"), F.lit("fl"))
    cleaned = F.regexp_replace(dehyphenate(deligatured), r"[^\x20-\x7E]", "")
    return docs.select("doc_id", cleaned.alias("cleaned"))


@register(
    "bfs_reachability",
    """
    WITH RECURSIVE edges AS (
      SELECT DISTINCT user_id AS src,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst
      FROM events
      WHERE json_extract_string(props, '$.k') IS NOT NULL
    ), r(node, d) AS (
      SELECT DISTINCT src AS node, 0 AS d FROM edges WHERE src < 3
      UNION
      SELECT e.dst, r.d + 1 FROM r JOIN edges e ON e.src = r.node WHERE r.d < 3
    )
    SELECT node, CAST(MIN(d) AS INT) AS depth FROM r GROUP BY node
    """,
    doc="S6: Wikipedia-crawl-shaped BFS with depth budget — iterative "
    "frontier joins in Spark, recursive CTE as the oracle (ref "
    "wikipedia_collector.py:41-215)",
)
def bfs_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import bfs_min_depth

    ev = load_table(spark, sf_dir, "events")
    edges = ev.select(
        F.col("user_id").alias("src"),
        F.get_json_object("props", "$.k").cast("bigint").alias("dst"),
    ).dropDuplicates(["src", "dst"])
    seeds = edges.filter(F.col("src") < 3).select(F.col("src").alias("node")).dropDuplicates()
    return bfs_min_depth(edges, seeds, max_depth=3).select(
        "node", F.col("depth").cast("int").alias("depth")
    )


@register(
    "change_detection_requeue",
    """
    SELECT doc_id, verdict FROM (
      SELECT doc_id,
             CASE WHEN doc_id % 97 = 0 THEN 'document_is_invalid'
                  WHEN abs((n_chars + (doc_id % 41) - 20) - n_chars)
                       > 0.05 * n_chars THEN 'url_retrieved'
                  ELSE 'unchanged' END AS verdict
      FROM documents)
    WHERE verdict != 'unchanged'
    """,
    doc="R5: CDC-lite change detection — WikipediaUpdater re-queues a "
    "document when the revision diff exceeds 5% of the old size, and "
    "invalidates on redirect (ref modules/wikipedia_updater.py:75-122, "
    "threshold at :122). Old/new sizes synthesized deterministically.",
)
def change_detection_requeue(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    new_size = F.col("n_chars") + (F.col("doc_id") % 41) - 20
    verdict = (
        F.when(F.col("doc_id") % 97 == 0, "document_is_invalid")
        .when(F.abs(new_size - F.col("n_chars")) > 0.05 * F.col("n_chars"), "url_retrieved")
        .otherwise("unchanged")
    )
    return docs.select("doc_id", verdict.alias("verdict")).filter(F.col("verdict") != "unchanged")


@register(
    "ordered_id_batch",
    """
    SELECT doc_id, n_chars FROM documents
    WHERE n_chars > 200
    ORDER BY doc_id LIMIT 100
    """,
    doc="O5: backfill batch pick — predicate + ORDER BY id LIMIT "
    "batch_size (ref BackFiller "
    "batch_generator_queries/document_with_doi_column_null.sql)",
)
def ordered_id_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("n_chars") > 200)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
        .limit(100)
    )


@register(
    "embedding_codec_roundtrip",
    """
    SELECT vec_id, CAST(len(embedding) AS INT) AS n_dims,
           TRUE AS is_fixpoint
    FROM embeddings
    """,
    doc="Embedding binary codec: array<float> → float32-LE bytes → "
    "array<float> must be the identity (ref encode "
    "embedding_model_helpers.py:111-121, decode "
    "sdgs_classifiers.py:39-41; flagged as an exact-parity risk in "
    "SURVEY.md §7). Spark computes decode(encode(v)) == v elementwise "
    "(exact float32 comparison); the oracle asserts the fixpoint as a "
    "constant TRUE — any codec bit-loss flips the boolean and breaks "
    "the hash. Booleans instead of raw arrays because the driver's "
    "canonicalizer cannot sort/hash list cells.",
)
def embedding_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.codec import bytes_to_embedding, embedding_to_bytes
    from ..session import ensure_self_on_executors

    ensure_self_on_executors(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    roundtrip = bytes_to_embedding(embedding_to_bytes(F.col("embedding")))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        roundtrip.eqNullSafe(F.col("embedding")).alias("is_fixpoint"),
    )


@register(
    "salted_aggregation",
    """
    SELECT event_type, ROUND(SUM(value), 2) AS sum_value,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events GROUP BY event_type
    """,
    doc="Skew-safe aggregation: two-phase salted sum/count over the "
    "5-value event_type key (a guaranteed hot key at scale) must equal "
    "the direct GROUP BY — the oracle IS the direct form "
    "(operators/skew.py; no reference analog, 100 TB extension)",
)
def salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_sum_count

    ev = load_table(spark, sf_dir, "events")
    out = salted_sum_count(ev, ["event_type"], "value", n_salts=16)
    return out.select(
        "event_type", F.round("sum_value", 2).alias("sum_value"), F.col("n_rows")
    )


@register(
    "asof_join_last_click",
    """
    SELECT p.event_id, p.user_id, c.ts AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
    doc="Extension: AS-OF join — for each purchase, the user's latest "
    "click at-or-before it. Spark lacks a native asof join; the "
    "sort-merge-free realization is a carry-forward window (last "
    "non-null over user partition ordered by time) — one shuffle on "
    "the key, linear scan, no inequality join. Oracle: DuckDB's "
    "native ASOF LEFT JOIN.",
)
def asof_join_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    # at equal timestamps clicks must sort BEFORE purchases so the
    # carry-forward sees them — ASOF's c.ts <= p.ts is inclusive
    kind = F.when(F.col("event_type") == "click", 0).otherwise(1)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), kind, F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = ev.withColumn(
        "last_click_ts",
        F.last(F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True).over(w),
    )
    return carried.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "last_click_ts"
    )


@register(
    "range_join_nearby_events",
    """
    SELECT e.event_id, CAST(COUNT(o.event_id) AS BIGINT) AS n_nearby
    FROM events e
    LEFT JOIN events o
      ON o.user_id = e.user_id
     AND o.event_id != e.event_id
     AND abs(epoch_us(o.ts) - epoch_us(e.ts)) <= 300000000
    WHERE e.event_type = 'error'
    GROUP BY e.event_id
    """,
    doc="Extension: range join — events of the same user within ±5 min "
    "of each error event. The naive inequality join is O(n²)-ish and "
    "unshuffleable; the Spark realization bins time into 5-minute "
    "buckets and equi-joins each error to bins {b-1, b, b+1} before "
    "the exact |Δt| filter — a co-partitionable join whose work is "
    "bin-local (the standard interval-join trick; Flink/KDB do the "
    "same). Oracle: the naive inequality join.",
)
def range_join_nearby_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    win = 300_000_000  # ±5 minutes in µs
    others = ev.select(
        F.col("event_id").alias("o_id"),
        F.col("user_id").alias("o_user"),
        F.col("us").alias("o_us"),
        F.expr(f"us div {win}").alias("o_bin"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "us", F.expr(f"us div {win}").alias("bin")
    )
    exploded = errors.select(
        "event_id",
        "user_id",
        "us",
        F.explode(F.array(F.col("bin") - 1, F.col("bin"), F.col("bin") + 1)).alias("jbin"),
    )
    joined = exploded.join(
        others,
        (exploded.user_id == others.o_user)
        & (exploded.jbin == others.o_bin)
        & (exploded.event_id != others.o_id)
        & (F.abs(exploded.us - others.o_us) <= win),
        "left",
    )
    return joined.groupBy("event_id").agg(F.count("o_id").alias("n_nearby"))


@register(
    "backfill_update_status",
    """
    WITH given AS (
      SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM events WHERE event_id < 200
    ), updated AS (
      SELECT event_id FROM given WHERE k % 3 = 0
    ), skipped AS (
      SELECT event_id FROM given EXCEPT SELECT event_id FROM updated
    )
    SELECT event_id, false AS was_skipped FROM updated
    UNION ALL
    SELECT event_id, true AS was_skipped FROM skipped
    """,
    doc="J11/T1/T2 composite: the BackFiller status-report SQL — "
    "updated = rows whose JSON field qualifies, skipped = given ids "
    "EXCEPT updated, status = UNION ALL of both with a skip flag "
    "(mirrors back_filling_queries/update_doi_from_details.sql "
    "end-to-end: JSON extraction, EXCEPT, UNION ALL)",
)
def backfill_update_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    given = ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("k")
    )
    updated = given.filter(F.col("k") % 3 == 0).select("event_id")
    skipped = given.select("event_id").exceptAll(updated)
    return updated.select("event_id", F.lit(False).alias("was_skipped")).unionByName(
        skipped.select("event_id", F.lit(True).alias("was_skipped"))
    )


def _gate_scratch(name: str, sf_dir: str) -> str:
    """Stable per-(query, sf) scratch dir for gate adapters whose
    operator writes a sink: wiped and recreated on every build, so
    repeated builds REUSE one directory instead of leaking a mkdtemp
    each, and the build can return a LAZY read of the sink (no
    driver-side collect of an SF-scaling frame) — the files stay
    valid until the next build of the same query overwrites them.

    The root is scoped PER PROCESS (pid in the path): two concurrent
    bench/test runs over the same sf_dir must never rmtree each
    other's live lazy-read files mid-run, and a world-shared fixed
    path under the global tempdir would also be a pre-creation/
    symlink hazard on shared hosts. Disk hygiene: the per-pid root is
    atexit-removed (nothing in it outlives the owning SparkSession),
    and each call opportunistically sweeps sibling roots whose owner
    process is gone — state stores and stream sinks in here reach GB
    scale at sf3, so orphans from killed runs must not accumulate."""
    import atexit
    import glob
    import hashlib
    import os
    import shutil
    import tempfile
    import time

    def _pid_alive(pid: int) -> bool:
        # portable liveness probe: signal 0 delivers nothing but
        # resolves the pid — ProcessLookupError = dead (sweepable),
        # PermissionError = alive under another uid (NOT sweepable).
        # /proc/<pid> would be Linux-only and make every sibling look
        # dead on macOS/Windows, rmtree-ing a LIVE run's state stores.
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            return False
        except PermissionError:
            return True
        except OSError:
            return True  # unknowable — never sweep on doubt
        return True

    root = os.path.join(
        tempfile.gettempdir(), f"welearn_gate_scratch_{os.getpid()}"
    )
    if not os.path.exists(root):
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    for other in glob.glob(
        os.path.join(tempfile.gettempdir(), "welearn_gate_scratch_*")
    ):
        try:
            pid = int(other.rsplit("_", 1)[-1])
        except ValueError:
            continue
        if pid == os.getpid():
            continue
        # age backstop for pid reuse: a recycled pid keeps an orphan
        # "alive" forever, so roots untouched for a day are swept
        # regardless (no live gate run leaves its scratch idle that
        # long — every build rewrites its query dir).
        try:
            stale = (time.time() - os.path.getmtime(other)) > 24 * 3600
        except OSError:
            stale = False
        if stale or not _pid_alive(pid):
            shutil.rmtree(other, ignore_errors=True)

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(root, f"{name}_{key}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _gate_stream(
    spark: SparkSession, name: str, sf_dir: str, stream, **kwargs
) -> DataFrame:
    """The one staging path of the stream gate adapters: copy
    ``events.parquet`` into the query's :func:`_gate_scratch` dir as
    the stream's one source file, drain ``stream`` (a
    streaming/state_machine operator, called as ``stream(spark,
    events_dir, checkpoint_dir, out_dir, **kwargs)``) with its
    checkpoint and sink beside it, and return the LAZY parquet read of
    the sink. Nothing is collected to the driver, and the next build
    of the same query wipes all three directories."""
    import os
    import shutil

    work = _gate_scratch(name, sf_dir)
    events_dir = f"{work}/events"
    os.makedirs(events_dir)
    shutil.copy(f"{sf_dir}/events.parquet", f"{events_dir}/part-000.parquet")
    stream(spark, events_dir, f"{work}/ckpt", f"{work}/out", **kwargs)
    return spark.read.parquet(f"{work}/out")


@register(
    "stream_windowed_counts",
    """
    WITH mx AS (SELECT MAX(ts) AS max_ts FROM events)
    SELECT day_start, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT date_trunc('day', ts)::TIMESTAMP AS day_start,
                 date_trunc('day', ts)::TIMESTAMP + INTERVAL 1 DAY AS day_end,
                 event_type
          FROM events), mx
    WHERE day_end <= mx.max_ts
    GROUP BY day_start, event_type
    """,
    doc="R1 under the driver gate, STREAMING leg: the actual Structured-"
    "Streaming job (watermarked tumbling-window counts, append mode, "
    "AvailableNow trigger — streaming/state_machine."
    "stream_windowed_counts) runs against the events file and its "
    "emitted CLOSED windows are value-hashed against the batch SQL "
    "twin. Complements closed_window_counts, which gates the same "
    "semantics without running the stream.",
)
def stream_windowed_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.state_machine import stream_windowed_counts

    out = _gate_stream(
        spark, "stream_wc", sf_dir, stream_windowed_counts,
        window="1 day", watermark="0 seconds",
    )
    # append mode emits each closed window exactly once; the re-agg
    # is a cheap idempotence guard over the tiny emitted frame
    return out.groupBy(
        F.col("window_start").alias("day_start"), "event_type"
    ).agg(F.sum("n").alias("n"))


@register(
    "stream_dedup_urls",
    "SELECT DISTINCT user_id, event_type FROM events",
    doc="R4 under the driver gate, STREAMING leg: the real "
    "dropDuplicatesWithinWatermark ingest-dedup stream (streaming/"
    "state_machine.stream_dedup_urls) drains the events log with "
    "AvailableNow and its emitted KEY SET is value-hashed against "
    "DISTINCT over the batch table. The gate pins the at-most-once-"
    "per-horizon contract on the key columns — WHICH duplicate "
    "survives (its event_id/ts) is arrival-order-dependent inside a "
    "micro-batch, so the deterministic cross-engine surface is the "
    "key set, exactly as the reference's URL-ingest dedup is keyed "
    "(pipeline/url_ingest.py twin).",
)
def stream_dedup_urls_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.state_machine import stream_dedup_urls

    out = _gate_stream(spark, "stream_dd", sf_dir, stream_dedup_urls)
    return out.select("user_id", "event_type")


@register(
    "stream_enrich_join",
    """
    SELECT event_id, user_id, event_type,
           CASE event_type WHEN 'click' THEN 'web'
                           WHEN 'view' THEN 'web'
                           WHEN 'purchase' THEN 'commerce'
                           ELSE 'other' END AS channel
    FROM events
    """,
    doc="R5/J9 under the driver gate, STREAMING leg: the real "
    "stream-static broadcast enrichment join (streaming/state_machine."
    "stream_enrich_join — dimension re-read per micro-batch, stream "
    "side never shuffles) drains the events log and every enriched "
    "row is value-hashed against the batch CASE mapping. Row-"
    "deterministic, so this is a full hash gate, not rows-only.",
)
def stream_enrich_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.state_machine import stream_enrich_join

    out = _gate_stream(spark, "stream_ej", sf_dir, stream_enrich_join)
    return out.select("event_id", "user_id", "event_type", "channel")


@register(
    "closed_window_counts",
    """
    WITH mx AS (SELECT MAX(ts) AS max_ts FROM events)
    SELECT day_start, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT date_trunc('day', ts)::TIMESTAMP AS day_start,
                 date_trunc('day', ts)::TIMESTAMP + INTERVAL 1 DAY AS day_end,
                 event_type
          FROM events), mx
    WHERE day_end <= mx.max_ts
    GROUP BY day_start, event_type
    """,
    doc="R1/late-data as batch-checkable semantics: tumbling 1-day counts "
    "for CLOSED windows only (window end ≤ watermark = max event time) — "
    "exactly what the streaming job with a 0-second watermark emits in "
    "append mode (streaming/state_machine.stream_windowed_counts), so "
    "the windowed-stream contract is oracle-checked, not just tested",
)
def closed_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts").alias("max_ts"))
    windowed = ev.select(
        F.window("ts", "1 day").alias("w"), "event_type"
    ).select(
        F.col("w.start").alias("day_start"), F.col("w.end").alias("day_end"), "event_type"
    )
    return (
        windowed.crossJoin(F.broadcast(max_ts))
        .filter(F.col("day_end") <= F.col("max_ts"))
        .groupBy("day_start", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "corpus_health_report",
    """
    WITH m AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(text, '\\w+')) AS DOUBLE) AS words,
             CASE WHEN doc_id != MIN(doc_id) OVER (
                    PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                  ) THEN 1 ELSE 0 END AS is_dup
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(words) + 5e-10, 4) AS avg_words,
           CAST(SUM(is_dup) AS BIGINT) AS n_dups,
           CAST(SUM(CASE WHEN words < 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_too_short
    FROM m GROUP BY source
    """,
    doc="Corpus curation composite: per-source health report — document "
    "counts, mean length, exact-duplicate counts, too-short counts — "
    "the go/no-go dashboard a training-data pipeline runs before "
    "export (composes dedup flags + length stats in one pass)",
)
def corpus_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_dup_flags

    docs = load_table(spark, sf_dir, "documents")
    words = F.size(F.regexp_extract_all("text", F.lit(r"\w+"), 0)).cast("double")
    flags = exact_dup_flags(docs, "doc_id", "text")
    enriched = docs.select("doc_id", "source", words.alias("words")).join(flags, on="doc_id")
    return enriched.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("words") + F.lit(5e-10), 4).alias("avg_words"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dups"),
        F.sum((F.col("words") < 15).cast("long")).alias("n_too_short"),
    )


@register(
    "cube_source_lang_stats",
    """
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(grouping(source) AS INT) AS g_source,
           CAST(grouping(lang) AS INT) AS g_lang
    FROM documents
    GROUP BY CUBE (source, lang)
    """,
    doc="CUBE aggregation: all four (source, lang) grouping "
    "combinations in ONE pass — Spark's Expand operator replicates "
    "each input row per grouping set map-side, so the corpus is "
    "scanned once instead of four times; grouping() flags "
    "disambiguate NULL-as-total from NULL-as-value, the standard "
    "warehouse subtotal contract (complement of the ROLLUP query).",
)
def cube_source_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.cube("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.grouping("source").cast("int").alias("g_source"),
            F.grouping("lang").cast("int").alias("g_lang"),
        )
        .select("source", "lang", "n_docs", "total_chars", "g_source", "g_lang")
    )


_PR_EDGES = """
    WITH edges AS (
      SELECT DISTINCT user_id AS src,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst
      FROM events
      WHERE json_extract_string(props, '$.k') IS NOT NULL
    ),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)
"""


def _pr_step(i: int) -> str:
    return f"""
    , c{i} AS (
      SELECT e.dst AS node, SUM(p.r / d.deg) AS s
      FROM edges e JOIN pr{i - 1} p ON p.node = e.src JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    ), pr{i} AS (
      SELECT n.node, 0.15 + 0.85 * COALESCE(c.s, 0) AS r
      FROM nodes n LEFT JOIN c{i} c ON c.node = n.node
    )"""


@register(
    "pagerank_3iter",
    _PR_EDGES
    + ", pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS r FROM nodes)"
    + "".join(_pr_step(i) for i in (1, 2, 3))
    + """
    SELECT node, ROUND(r + 5e-10, 6) AS pr FROM pr3
    """,
    doc="Iterative numeric: 3-iteration PageRank (damping 0.85, "
    "dangling mass dropped) over the events-derived edge graph — "
    "per-iteration edge⋈rank join + aggregation with lineage "
    "truncation (operators/graph.pagerank_fixed); oracle unrolls the "
    "same three steps as chained CTEs. Fixed iterations keep it "
    "deterministic; the production convergence loop shares the body.",
)
def pagerank_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank_fixed

    ev = load_table(spark, sf_dir, "events")
    edges = ev.select(
        F.col("user_id").alias("src"),
        F.get_json_object("props", "$.k").cast("bigint").alias("dst"),
    )
    return pagerank_fixed(edges, n_iter=3).select(
        "node", F.round(F.col("r") + F.lit(5e-10), 6).alias("pr")
    )


@register(
    "sketch_corpus_profile",
    """
    SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS hll_ok, TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
    FROM documents GROUP BY source
    """,
    doc="Approximate sketches: per-source HyperLogLog++ distinct docs "
    "(approx_count_distinct, rsd 1%) and KLL-style approximate length "
    "percentiles (percentile_approx) — the fixed-memory profiling pass "
    "a 100 TB corpus gets where exact distinct/percentile would "
    "shuffle every row; mergeable sketch partials combine map-side "
    "like any partial agg. Sketch estimates are "
    "engine-implementation-defined, so the cross-engine contract is "
    "error-bound BOOLEANS: the oracle computes the same exact counts "
    "and the trivially-true bound, Spark computes the real check — "
    "HLL within 5%+2 of countDistinct, and each approx percentile "
    "RANK-checked (its empirical cume_dist interval must overlap "
    "[p−2%, p+2%]; rank logic, unlike value bounds, survives "
    "adversarial gap distributions and 1-row groups). A broken sketch "
    "flips a boolean and fails the hash. The rank check is a second "
    "pass over documents joined to the broadcast per-source "
    "aggregates — scale-safe (no per-group collect).",
)
def sketch_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")

    agg = docs.groupBy("source").agg(
        F.approx_count_distinct("doc_id", rsd=0.01).alias("approx_docs"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.percentile_approx("n_chars", [0.5, 0.9, 0.99], 10000).alias("apx"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    joined = docs.select("source", "n_chars").join(F.broadcast(agg), "source")
    cnt = joined.groupBy(
        "source", "n_docs", "n_rows", "approx_docs", "apx"
    ).agg(
        F.count("n_chars").alias("n_val"),
        *[
            c
            for i in range(3)
            for c in (
                F.sum((F.col("n_chars") <= F.col("apx")[i]).cast("long")).alias(f"le{i}"),
                F.sum((F.col("n_chars") < F.col("apx")[i]).cast("long")).alias(f"lt{i}"),
            )
        ],
    )

    def _rank_ok(i: int, p: float, eps: float = 0.02) -> F.Column:
        # the approx value occupies ranks (lt, le]; it is a valid
        # p-quantile iff that interval overlaps [(p-eps)·n, (p+eps)·n]
        ok = (F.col(f"le{i}") >= (p - eps) * F.col("n_val")) & (
            F.col(f"lt{i}") <= (p + eps) * F.col("n_val")
        )
        return F.coalesce(ok, F.lit(True))  # all-null group: nothing to check

    hll_ok = F.abs(F.col("approx_docs") - F.col("n_docs")) <= F.col("n_docs") * 0.05 + 2
    return cnt.select(
        "source",
        "n_docs",
        "n_rows",
        hll_ok.alias("hll_ok"),
        _rank_ok(0, 0.5).alias("p50_ok"),
        _rank_ok(1, 0.9).alias("p90_ok"),
        _rank_ok(2, 0.99).alias("p99_ok"),
    )


@register(
    "pdf_header_footer_strip",
    r"""
    SELECT doc_id,
           trim(regexp_replace(
             concat_ws(' ', substr(text, 1, 200), substr(text, 201, 200),
                            substr(text, 401, 200)),
             '\s+', ' ', 'g')) AS body
    FROM documents
    """,
    doc="PDF header/footer strip (RefinedDocument analog, ref "
    "modules/pdf_extractor.py:74-78 via refinedoc): three synthetic "
    "pages per document carry a running title, a 'Vol. X No. Y' line, "
    "a 'Page N' footer and a copyright footer around a 200-char body "
    "chunk; operators/pdf_refine.py detects the positionally-modal "
    "(digit-insensitive) lines per document and strips them. The "
    "oracle is the ws-collapsed concatenation of the raw chunks — the "
    "query only matches if every boilerplate line is removed and "
    "every body chunk survives.",
)
def pdf_header_footer_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pdf_refine import refine_pdf_pages

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pages = docs.select(
        "doc_id",
        "text",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("page_no"),
    ).select(
        "doc_id",
        "page_no",
        F.array(
            F.lit("The Journal of Synthetic Documents"),
            F.format_string("Vol. %d No. %d", F.col("doc_id").cast("int"), F.col("page_no")),
            F.expr("substr(text, 1 + (page_no - 1) * 200, 200)"),
            F.format_string("Page %d", F.col("page_no")),
            F.lit("(c) Example Press"),
        ).alias("lines"),
    )
    return refine_pdf_pages(pages, k=2).withColumnRenamed("text", "body")


@register(
    "details_merge_writeback",
    """
    SELECT event_id,
           CAST(coalesce(CAST(json_extract_string(props, '$.k') AS BIGINT),
                         999) AS BIGINT) AS k_out,
           CAST(trunc(value * 2) AS BIGINT) AS duration_out,
           (json_extract_string(props, '$.k') IS NOT NULL) AS had_k
    FROM events
    """,
    doc="details-JSON merge write-back (ref computed_metadata.py:"
    "225-273 compute_duration/readability set-if-absent +"
    " plugins' per-source details merge, hal.py:141-148): merge "
    "{'duration': trunc(value*2), 'k': 999} into props NON-strictly — "
    "an existing 'k' must survive, a missing one takes the default, "
    "'duration' is always new. The oracle recomputes both outcomes "
    "from the raw JSON; comparing extracted values (not raw JSON "
    "text) keeps key-ordering differences out of the hash.",
)
def details_merge_writeback(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.details import merge_details

    ev = load_table(spark, sf_dir, "events").select("event_id", "value", "props")
    merged = merge_details(
        ev,
        {
            "duration": F.expr("CAST(value * 2 AS BIGINT)"),
            "k": F.lit(999).cast("bigint"),
        },
        details_col="props",
    )
    return merged.select(
        "event_id",
        F.get_json_object("props", "$.duration").cast("bigint").alias("duration_out"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k_out"),
        (F.get_json_object("props", "$.k").cast("bigint") != 999).alias("had_k"),
    )


from ..operators.similarity import plane_weight_sql, scaled_n_bits_sql  # noqa: E402


@register(
    "lsh_near_dup_pairs",
    f"""
    WITH nb AS (
      SELECT {scaled_n_bits_sql('COUNT(*)')} AS n_bits FROM embeddings
    ), planes AS (
      SELECT bit, list_transform(generate_series(1, 64),
               j -> {plane_weight_sql(42, 'bit', 'j - 1')}) AS w
      FROM (SELECT unnest(generate_series(0, (SELECT n_bits FROM nb) - 1)) AS bit)
    ), buck AS (
      SELECT e.vec_id,
             string_agg(CASE WHEN list_sum(list_transform(generate_series(1, 64),
                 i -> CAST(e.embedding[i] AS DOUBLE) * p.w[i])) >= 0
                 THEN '1' ELSE '0' END, '' ORDER BY p.bit) AS bucket
      FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id
    ), tagged AS (
      SELECT b.vec_id, e.embedding, b.bucket
      FROM buck b JOIN embeddings e USING (vec_id)
    ),
    pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             ROUND(
               list_sum(list_transform(generate_series(1, 64),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(generate_series(1, 64),
                    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(generate_series(1, 64),
                    i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 6) AS cosine
      FROM tagged a JOIN tagged b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT a_id, b_id, cosine FROM pairs WHERE cosine >= 0.30
    """,
    doc="Dedup, 100 TB path: embedding near-duplicate pairs via "
    "random-hyperplane LSH buckets, CORPUS-SCALED: the plane count is "
    "ceil(log2(n/target_bucket)) (operators/similarity.scaled_n_bits; "
    "the oracle computes the identical value from COUNT(*) and "
    "derives the identical md5-parity planes in SQL), so expected "
    "bucket size — and therefore per-bucket pair work — stays "
    "constant while bucket count (= join parallelism) grows with the "
    "corpus. Pair generation is the bucket self-pair kernel "
    "(operators/dedup.bucket_pairs): per-task pair output is "
    "bounded by chunk_target² even when real embeddings pile into a "
    "few dense buckets, the failure mode that made the fixed-plane "
    "instance quadratic at sf1, and the replicated-row disk guard "
    "runs first. Exact cosine confirms candidates.",
)
def lsh_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import bucket_pairs, replicated_volume_guard
    from ..operators.similarity import cosine, scaled_n_bits

    # repartition BEFORE the plane-projection map: a small parquet
    # file arrives as 1-2 scan splits and would serialize the
    # n_bits x 64 fold work onto two cores (SCALE.md §4 pattern)
    par = spark.sparkContext.defaultParallelism
    base = load_table(spark, sf_dir, "embeddings")
    emb = base.repartition(par)
    # one driver-side scalar (a parquet metadata count, taken on the
    # BARE scan so the sizing job never pays the repartition
    # exchange) sizes the bucket geometry; everything
    # downstream is distributed
    n = base.count()
    planes = derive_planes(seed=42, n_bits=scaled_n_bits(n), dims=_DIMS)
    tagged = emb.select(
        "vec_id", "embedding", bucket_key_col(F.col("embedding"), planes).alias("bucket")
    )
    # Pre-flight disk gate, set up exactly as semantic_dedup_flags':
    # the replicated chunk-join input carries the 64-float payload
    # (~320 B/row), and the everyone-in-one-bucket worst case
    # n·(ceil(n/256)+1) rows is free from the sizing count — so up
    # to sf0.1 at least the probe is skipped and costs nothing
    tagged, max_bucket = replicated_volume_guard(
        tagged,
        ["bucket"],
        "vec_id",
        chunk_target=256,
        bytes_per_row=320,
        worst_case_rows=n * (-(-n // 256) + 1),
    )
    pairs = bucket_pairs(
        tagged,
        ["bucket"],
        "vec_id",
        ["embedding"],
        # symmetric: cosine's dot and norm product commute exactly
        keep=lambda x, y: F.round(cosine(x("embedding"), y("embedding")), 6) >= 0.30,
        max_bucket=max_bucket,
        chunk_target=256,
    )
    return pairs.select(
        "a_id",
        "b_id",
        F.round(cosine(F.col("a_embedding"), F.col("b_embedding")), 6).alias("cosine"),
    )


from ..operators.zorder import zorder_key_sql as _zorder_key_sql  # noqa: E402


@register(
    "zorder_clustering_key",
    f"""
    SELECT event_id,
           {_zorder_key_sql('user_id', 'trunc(value)', 16)} AS zkey
    FROM events
    """,
    doc="Z-order (Morton) clustering key over (user_id, trunc(value)) "
    "— the multi-dimensional sort key that keeps parquet min/max "
    "stats selective along BOTH dimensions after "
    "compact(sort_within_by=[zorder_key(...)]) (Delta OPTIMIZE "
    "ZORDER analog, operators/zorder.py; no reference analog, 100 TB "
    "extension). Pure JVM bit arithmetic, bit-identical in the "
    "DuckDB oracle.",
)
def zorder_clustering_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.zorder import zorder_key

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        zorder_key(F.col("user_id"), F.floor(F.col("value")).cast("bigint"), bits=16).alias(
            "zkey"
        ),
    )


@register(
    "hal_extraction_roundtrip",
    r"""
    SELECT 'hal-' || doc_id AS hal_id,
           CASE WHEN text = 'absent' THEN NULL
                ELSE 'https://hal.science/hal-' || doc_id END AS url,
           CASE WHEN text = 'absent' THEN NULL ELSE 'T' || doc_id END AS title,
           CASE WHEN text = 'absent' THEN NULL
                ELSE split_part(coalesce(text, ''), '.', 1) END AS description,
           CASE WHEN text = 'absent' THEN NULL
                ELSE CAST(length(coalesce(text, '')) AS INT) END AS n_content,
           CASE WHEN text = 'absent' THEN NULL
                ELSE CASE doc_id % 4 WHEN 0 THEN 'article'
                                     WHEN 1 THEN 'communication'
                                     WHEN 2 THEN 'thesis'
                                     ELSE 'UNDEFINED' END END AS doc_type,
           CASE WHEN text = 'absent' THEN NULL
                ELSE CAST(1388534400 + (doc_id % 9) * 86400 AS DOUBLE) END
             AS publication_ts,
           CASE WHEN text = 'absent' THEN NULL ELSE source END AS author0,
           CASE WHEN text = 'absent' THEN 'NoContent: content is absent' END
             AS error_info
    FROM documents
    """,
    doc="Extraction under the driver gate: per document a real HAL API "
    "response is SYNTHESIZED with to_json (halId/title/abstract="
    "text/docType cycling/date/author=source), run through the actual "
    "extract_hal plugin (extraction/hal.py — from_json, type lookup, "
    "date fold, author structs, dead-letter rules), and the flattened "
    "output is value-hashed against an oracle that states the "
    "reference field-mapping semantics directly — including the "
    "'absent'-abstract NoContent dead-letter.",
)
def hal_extraction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extraction.hal import extract_hal

    docs = load_table(spark, sf_dir, "documents")
    doc_type = F.element_at(
        F.array(F.lit("ART"), F.lit("COMM"), F.lit("THESE"), F.lit("XYZ")),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    pub_date = F.concat(
        F.lit("2014-01-0"), (F.col("doc_id") % 9 + 1).cast("string"), F.lit("T00:00:00Z")
    )
    payload = F.to_json(
        F.struct(
            F.struct(
                F.array(
                    F.struct(
                        F.col("doc_id").cast("string").alias("docid"),
                        F.concat(F.lit("hal-"), F.col("doc_id")).alias("halId_s"),
                        F.array(F.concat(F.lit("T"), F.col("doc_id"))).alias("title_s"),
                        F.array(F.col("text")).alias("abstract_s"),
                        doc_type.alias("docType_s"),
                        pub_date.alias("publicationDate_tdate"),
                        F.array(F.col("source")).alias("authFullName_s"),
                    )
                ).alias("docs")
            ).alias("response")
        )
    )
    out = extract_hal(docs.select(payload.alias("payload")))
    return out.select(
        "hal_id",
        "url",
        "title",
        "description",
        F.length(F.col("full_content")).cast("int").alias("n_content"),
        F.col("details.type").alias("doc_type"),
        F.col("details.publication_date").alias("publication_ts"),
        F.col("details.authors")[0]["name"].alias("author0"),
        "error_info",
    )


@register(
    "world_bank_extraction_roundtrip",
    r"""
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 2
                THEN 'UnauthorizedLicense: https://creativecommons.org/licenses/by-nc/4.0/'
           END AS error_info,
           CASE WHEN doc_id % 3 = 2 THEN NULL
                ELSE 'https://hdl.handle.net/10986/' || doc_id END AS url,
           CASE WHEN doc_id % 3 = 2 THEN NULL ELSE 'T' || doc_id END AS title,
           CASE WHEN doc_id % 3 = 2 THEN NULL
                ELSE coalesce(text, '') END AS description,
           CASE WHEN doc_id % 3 = 2 THEN NULL
                ELSE CASE WHEN doc_id % 3 = 0
                     THEN 'https://creativecommons.org/licenses/by/4.0/'
                     ELSE 'https://creativecommons.org/licenses/by/3.0/igo/' END
           END AS licence,
           CASE WHEN doc_id % 3 = 2 THEN NULL
                ELSE 'John ' || coalesce(source, '') END AS author0,
           CASE WHEN doc_id % 3 = 2 THEN NULL ELSE lower(coalesce(lang, '')) END
             AS topic0
    FROM documents
    """,
    doc="Extraction under the driver gate #2: a METS/MODS OAI record "
    "is synthesized per document (title/abstract=text/author "
    "'source, John'/topic=lang/uri/accessCondition cycling CC BY 4.0 "
    "| CC BY 3.0 IGO | CC BY-NC 4.0), run through the real "
    "extract_world_bank_okr (regex field extraction, license "
    "normalization + allow-list gate, 'Last, First' author fold), "
    "and value-hashed against an oracle stating the reference "
    "semantics — the CC BY-NC third of documents must dead-letter "
    "with UnauthorizedLicense on BOTH engines.",
)
def world_bank_extraction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extraction.world_bank_okr import extract_world_bank_okr

    docs = load_table(spark, sf_dir, "documents")
    access = F.element_at(
        F.array(F.lit("CC BY 4.0"), F.lit("CC BY 3.0 IGO"), F.lit("CC BY-NC 4.0")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    xml = F.concat(
        F.lit("<mets><mods:title>T"),
        F.col("doc_id"),
        F.lit("</mods:title><mods:abstract>"),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("</mods:abstract><mods:accessCondition>"),
        access,
        F.lit("</mods:accessCondition><mods:namePart>"),
        F.coalesce(F.col("source"), F.lit("")),
        F.lit(", John</mods:namePart><mods:topic>"),
        F.coalesce(F.col("lang"), F.lit("")),
        F.lit('</mods:topic><mods:identifier type="uri">'),
        F.lit("https://hdl.handle.net/10986/"),
        F.col("doc_id"),
        F.lit("</mods:identifier></mets>"),
    )
    out = extract_world_bank_okr(
        docs.select(F.col("doc_id"), xml.alias("payload")),
        keep_cols=["doc_id"],
    )
    return out.select(
        "doc_id",
        "error_info",
        "url",
        "title",
        "description",
        F.col("details.licence").alias("licence"),
        F.col("details.authors")[0]["name"].alias("author0"),
        F.col("details.topics")[0]["name"].alias("topic0"),
    )


@register(
    "ted_extraction_roundtrip",
    r"""
    SELECT 'https://www.ted.com/talks/t' || doc_id AS url,
           'T' || doc_id AS title,
           split_part(coalesce(text, ''), '.', 1) AS description,
           trim(trim(regexp_replace(coalesce(text, ''), '[\n\t\r]', '', 'g')) ||
                CASE WHEN doc_id % 3 = 0 THEN '' ELSE ' extra cue' END) AS full_content,
           CAST(doc_id * 7 AS VARCHAR) AS duration,
           lower(coalesce(lang, '')) AS lang,
           CAST(1502375863 AS DOUBLE) AS publication_ts
    FROM documents
    """,
    doc="Extraction under the driver gate #3: a TED GraphQL response "
    "is synthesized per document (title/description=first sentence/"
    "transcript cues = [text, '(Applause)', maybe 'extra cue']) and "
    "run through the real extract_ted plugin — the oracle proves the "
    "prohibited-cue drop ('(Applause)' never reaches content), the "
    "space-joined cue concat with backline strip, the duration "
    "stringification, and the UTC publishedAt instant cross-engine.",
)
def ted_extraction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extraction.ted import extract_ted

    # the testdata file is one row group (one split), which would run
    # this CPU-heavy per-row map single-task; a real corpus scan has
    # many splits and needs no such spread
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    cue2 = F.when(F.col("doc_id") % 3 == 0, F.lit("(Applause)")).otherwise(
        F.lit("extra cue")
    )
    payload = F.to_json(
        F.struct(
            F.struct(
                F.struct(
                    F.split(F.coalesce(F.col("text"), F.lit("")), r"\.")[0].alias(
                        "description"
                    ),
                    F.lower(F.coalesce(F.col("lang"), F.lit(""))).alias(
                        "internalLanguageCode"
                    ),
                    F.lit("Speaker").alias("presenterDisplayName"),
                    (F.col("doc_id") * 7).alias("duration"),
                    F.concat(F.lit("T"), F.col("doc_id")).alias("title"),
                    F.lit("2017-08-10T14:37:43Z").alias("publishedAt"),
                    F.concat(F.lit("https://www.ted.com/talks/t"), F.col("doc_id")).alias(
                        "canonicalUrl"
                    ),
                    F.struct(F.lit("TEDx Talk").alias("name")).alias("type"),
                ).alias("video"),
                F.struct(
                    F.array(
                        F.struct(
                            F.array(
                                F.struct(
                                    F.coalesce(F.col("text"), F.lit("")).alias("text")
                                ),
                                F.struct(F.lit("(Applause)").alias("text")),
                                F.struct(cue2.alias("text")),
                            ).alias("cues")
                        )
                    ).alias("paragraphs")
                ).alias("translation"),
            ).alias("data")
        )
    )
    # this query reads only duration/publication_date from details —
    # tell the plugin so the unread readability field (three regex
    # passes over the full transcript) is not computed and discarded
    # (Catalyst cannot prune it: the 2-field extraction below blocks
    # CollapseProject; see extract_ted's details_fields docstring)
    out = extract_ted(
        docs.select(payload.alias("payload")),
        details_fields=("duration", "publication_date"),
    )
    return out.select(
        "url",
        "title",
        "description",
        "full_content",
        F.col("details.duration").alias("duration"),
        "lang",
        F.col("details.publication_date").alias("publication_ts"),
    )


@register(
    "open_alex_extraction_roundtrip",
    r"""
    SELECT doc_id,
           CASE doc_id % 4
             WHEN 3 THEN 'UnauthorizedPublisher'
             WHEN 1 THEN 'ClosedAccessContent'
             WHEN 2 THEN 'UnauthorizedLicense: https://creativecommons.org/licenses/by-nc/4.0/'
           END AS error_info,
           CASE WHEN doc_id % 4 = 0
                THEN 'https://openalex.org/W' || doc_id END AS url,
           CASE WHEN doc_id % 4 = 0 THEN 'T' || doc_id END AS title,
           CASE WHEN doc_id % 4 = 0 THEN '10.5555/' || doc_id END AS doi,
           CASE WHEN doc_id % 4 = 0
                THEN 'https://creativecommons.org/licenses/by/4.0/' END AS license_url,
           CASE WHEN doc_id % 4 = 0 THEN coalesce(source, '') END AS publisher,
           CASE WHEN doc_id % 4 = 0
                THEN CAST(1704067200 + (doc_id % 28) * 86400 AS BIGINT) END AS pub_ts,
           CASE WHEN doc_id % 4 = 0
                THEN 'D' || doc_id || ',F' || doc_id || ',SF' || doc_id || ',T' || doc_id
           END AS topic_ids,
           CASE WHEN doc_id % 4 = 0 THEN 'domain,field,subfield,topic' END AS topic_depths,
           CASE WHEN doc_id % 4 = 0 THEN coalesce(lang, '') END AS author0
    FROM documents
    """,
    doc="Extraction under the driver gate #4 (OpenAlex): synthesized "
    "works cycle through the reference's full gate matrix — authorized "
    "cc-by / closed access / unauthorized cc-by-nc / blocked publisher "
    "(host lineage P4310321074) — through the real extract_open_alex "
    "(publisher->access->license gate ORDER, cc URL normalization, "
    "doi strip, UTC date, 4-level topic hierarchy fold). The oracle "
    "states which quarter of documents dead-letters with which "
    "exception and the exact extracted fields for the admitted "
    "quarter.",
)
def open_alex_extraction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extraction.open_alex import extract_open_alex

    # single-row-group testdata file → spread the per-row map (see
    # ted_extraction_roundtrip)
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    m = F.col("doc_id") % 4
    is_oa = m != 1
    license_slug = F.when(m == 2, F.lit("cc-by-nc")).otherwise(F.lit("cc-by"))
    lineage = F.when(
        m == 3, F.array(F.lit("https://openalex.org/P4310321074"))
    ).otherwise(F.array(F.lit("https://openalex.org/P999")))
    pub_date = F.date_format(
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("doc_id") % 28).cast("int")),
        "yyyy-MM-dd",
    )

    level = lambda p: F.struct(  # noqa: E731
        F.concat(F.lit(p), F.col("doc_id")).alias("id"),
        F.concat(F.lit(p), F.lit("name"), F.col("doc_id")).alias("display_name"),
    )
    payload = F.to_json(
        F.struct(
            F.array(
                F.struct(
                    F.concat(F.lit("T"), F.col("doc_id")).alias("title"),
                    F.struct(
                        F.concat(F.lit("https://openalex.org/W"), F.col("doc_id")).alias(
                            "openalex"
                        ),
                        F.concat(F.lit("https://doi.org/10.5555/"), F.col("doc_id")).alias(
                            "doi"
                        ),
                    ).alias("ids"),
                    pub_date.alias("publication_date"),
                    F.struct(is_oa.alias("is_oa")).alias("open_access"),
                    F.struct(
                        F.lit(None).cast("string").alias("pdf_url"),
                        license_slug.alias("license"),
                        F.struct(
                            F.coalesce(F.col("source"), F.lit("")).alias(
                                "host_organization_name"
                            ),
                            F.lit("1234-5678").alias("issn_l"),
                            F.array().cast("array<string>").alias(
                                "host_organization_lineage"
                            ),
                        ).alias("source"),
                    ).alias("best_oa_location"),
                    F.lit("article").alias("type"),
                    F.array(
                        F.struct(
                            F.concat(F.lit("T"), F.col("doc_id")).alias("id"),
                            F.concat(F.lit("Tname"), F.col("doc_id")).alias(
                                "display_name"
                            ),
                            level("SF").alias("subfield"),
                            level("F").alias("field"),
                            level("D").alias("domain"),
                        )
                    ).alias("topics"),
                    F.array(
                        F.struct(
                            F.struct(
                                F.coalesce(F.col("lang"), F.lit("")).alias(
                                    "display_name"
                                )
                            ).alias("author"),
                            F.array().cast("array<string>").alias(
                                "raw_affiliation_strings"
                            ),
                        )
                    ).alias("authorships"),
                    F.array(
                        F.struct(
                            F.struct(
                                F.lit(None).cast("string").alias(
                                    "host_organization_name"
                                ),
                                F.lit(None).cast("string").alias("issn_l"),
                                lineage.alias("host_organization_lineage"),
                            ).alias("source")
                        )
                    ).alias("locations"),
                ).alias("w")
            ).alias("results")
        )
    )
    out = extract_open_alex(
        docs.select(F.col("doc_id"), payload.alias("payload")), keep_cols=["doc_id"]
    )
    topics = F.col("details.topics")
    return out.select(
        "doc_id",
        "error_info",
        "url",
        "title",
        F.col("external_id").alias("doi"),
        F.col("details.license_url").alias("license_url"),
        F.col("details.publisher").alias("publisher"),
        F.col("details.publication_date").alias("pub_ts"),
        F.array_join(F.transform(topics, lambda t: t["external_id"]), ",").alias(
            "topic_ids"
        ),
        F.array_join(
            F.transform(topics, lambda t: t["external_depth_name"]), ","
        ).alias("topic_depths"),
        F.col("details.authors")[0]["name"].alias("author0"),
    )


@register(
    "uved_extraction_roundtrip",
    r"""
    SELECT doc_id,
           CASE WHEN coalesce(text, '') = ''
                  THEN 'NoDescriptionFound'
                WHEN doc_id % 2 = 1 THEN 'UnauthorizedState'
           END AS error_info,
           CASE WHEN coalesce(text, '') <> '' AND doc_id % 2 = 0
                THEN 'labellisé' END AS state,
           CASE WHEN coalesce(text, '') <> '' AND doc_id % 2 = 0
                THEN CASE WHEN doc_id % 3 = 0
                     THEN 'https://creativecommons.org/licenses/by-sa/4.0/'
                     ELSE 'https://creativecommons.org/licenses/by/4.0/' END
           END AS licence,
           CASE WHEN coalesce(text, '') <> '' AND doc_id % 2 = 0
                THEN 665 END AS isced_level,
           CASE WHEN coalesce(text, '') <> '' AND doc_id % 2 = 0
                THEN lower(coalesce(source, '')) END AS tag0,
           CASE WHEN coalesce(text, '') <> '' AND doc_id % 2 = 0
                THEN coalesce(lang, '') || ' X' END AS author0,
           CASE WHEN coalesce(text, '') <> '' AND doc_id % 2 = 0
                THEN CAST(1743724800 AS DOUBLE) END AS pub_ts,
           CASE WHEN coalesce(text, '') <> '' AND doc_id % 2 = 0
                THEN TRUE END AS content_is_description
    FROM documents
    """,
    doc="Extraction under the driver gate #5 (UVED): synthesized "
    "member-API items through the real extract_uved pandas-UDF plugin "
    "— description-required and 'labellisé'-state gates (odd doc_ids "
    "dead-letter), CC license assembled from category uids (uid 6 "
    "adds ShareAlike for every third doc), Bac+3 → ISCED 665, "
    "lowered keyword tags, contributor name join, and the "
    "empty-transcription content fallback. Text-derived outputs are "
    "BOOLEANS so the oracle never re-implements the HTML-strip "
    "cleaner on adversarial text.",
)
def uved_extraction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extraction.uved import extract_uved

    docs = load_table(spark, sf_dir, "documents")
    state_cat = F.when(m_state := F.col("doc_id") % 2 == 0, F.lit("Labellisé")).otherwise(
        F.lit("En cours")
    )
    _ = m_state
    cats = F.array(
        F.struct(
            state_cat.alias("title"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(71)).otherwise(F.lit(72)).alias("uid"),
            F.struct(F.lit("État").alias("title"), F.lit(70).alias("uid")).alias("parent"),
        ),
        F.struct(
            F.lit("Bac+3").alias("title"),
            F.lit(17).alias("uid"),
            F.struct(F.lit("Niveau").alias("title"), F.lit(14).alias("uid")).alias(
                "parent"
            ),
        ),
        F.struct(
            F.lit("Partage").alias("title"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(6)).otherwise(F.lit(999)).alias("uid"),
            F.struct(F.lit("Licence").alias("title"), F.lit(5).alias("uid")).alias(
                "parent"
            ),
        ),
    )
    payload = F.to_json(
        F.struct(
            F.col("doc_id").alias("uid"),
            F.concat(F.lit("T"), F.col("doc_id")).alias("title"),
            F.coalesce(F.col("text"), F.lit("")).alias("description"),
            F.lit("2025-04-04T00:00:00.000+00:00").alias("date"),
            cats.alias("categories"),
            F.array(
                F.struct(F.coalesce(F.col("source"), F.lit("")).alias("title"))
            ).alias("keywords"),
            F.array(
                F.struct(
                    F.coalesce(F.col("lang"), F.lit("")).alias("firstName"),
                    F.lit("X").alias("lastName"),
                )
            ).alias("contributor"),
            F.struct(F.lit("UVED").alias("name")).alias("mainInstitution"),
        )
    )
    out = extract_uved(
        docs.select(F.col("doc_id").cast("string").alias("url"), payload.alias("payload"))
    )
    d = lambda path: F.get_json_object("details_json", path)  # noqa: E731
    return out.select(
        F.col("url").cast("bigint").alias("doc_id"),
        F.regexp_extract(F.coalesce("error_info", F.lit("")), r"(NoDescriptionFound|UnauthorizedState)", 1)
        .cast("string")
        .alias("_err_tag"),
        d("$.state").alias("state"),
        d("$.licence").alias("licence"),
        d("$.levels[0].isced_level").cast("int").alias("isced_level"),
        d("$.tags[0]").alias("tag0"),
        d("$.authors[0].name").alias("author0"),
        d("$.publication_date").cast("double").alias("pub_ts"),
        F.when(
            F.col("error_info").isNull(),
            F.col("full_content").eqNullSafe(F.col("description")),
        ).alias("content_is_description"),
    ).withColumn(
        "error_info", F.nullif(F.col("_err_tag"), F.lit(""))
    ).drop("_err_tag")


@register(
    "stream_session_counts",
    """
    WITH mx AS (SELECT MAX(ts) AS max_ts FROM events),
    marks AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     >= INTERVAL 4 HOUR
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marks
    ), agg AS (
      SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS last_ts,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM sess GROUP BY user_id, sid
    )
    SELECT session_start, user_id, n FROM agg, mx
    WHERE last_ts + INTERVAL 4 HOUR <= mx.max_ts
    """,
    doc="Sessionization under the driver gate, STREAMING leg: the real "
    "session-window stream (streaming/state_machine.stream_session_"
    "counts — F.session_window, 4h gap, append mode, AvailableNow) "
    "drains the events log and its emitted CLOSED sessions are value-"
    "hashed against the batch gaps-and-islands twin (new session when "
    "the gap is >= 4h — session windows are half-open [start, "
    "last+gap), so an event landing exactly at the boundary opens a "
    "new session; only sessions whose end precedes the final "
    "watermark = max event time are emitted). At 100 TB the state "
    "store holds one open session per active key and each micro-batch "
    "touches only arriving keys — vs the batch twin's full-history "
    "window scan per cadence tick.",
)
def stream_session_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.state_machine import stream_session_counts

    out = _gate_stream(spark, "stream_sc", sf_dir, stream_session_counts)
    return out.select("session_start", "user_id", "n")


@register(
    "snapshot_diff",
    """
    WITH old AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 17 != 0
    ), new AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END) AS h
      FROM documents WHERE doc_id % 19 != 0
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'deleted'
                ELSE 'changed' END AS change
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.h != n.h
    """,
    doc="Corpus snapshot diff (batch CDC, extending R5): two corpus "
    "versions are compared by content hash in one co-partitioned "
    "FULL OUTER join on the id and classified added / deleted / "
    "changed; unchanged rows — the overwhelming majority at 100 TB — "
    "are filtered before anything downstream sees them, which is what "
    "makes incremental re-embedding / re-indexing of a refreshed "
    "crawl affordable (process the diff, not the corpus). Both sides "
    "shuffle once on the join key (zero times if the snapshots are "
    "bucketed on id, the layout a snapshot store should use); the "
    "hash comparison is a map-side md5 over the content column. The "
    "two versions here are deterministic slices of the documents "
    "table (mod-17 additions, mod-19 deletions, mod-13 edits) so the "
    "diff is reproducible cross-engine.",
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 17 != 0).select(
        "doc_id", F.md5("text").alias("h")
    )
    new = docs.filter(F.col("doc_id") % 19 != 0).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text"))
        ).alias("h"),
    )
    o = old.select(F.col("doc_id").alias("o_id"), F.col("h").alias("o_h"))
    n = new.select(F.col("doc_id").alias("n_id"), F.col("h").alias("n_h"))
    joined = o.join(n, o.o_id == n.n_id, "full_outer")
    return joined.filter(
        F.col("o_id").isNull() | F.col("n_id").isNull() | (F.col("o_h") != F.col("n_h"))
    ).select(
        F.coalesce("o_id", "n_id").alias("doc_id"),
        F.when(F.col("o_id").isNull(), "added")
        .when(F.col("n_id").isNull(), "deleted")
        .otherwise(F.lit("changed"))
        .alias("change"),
    )


@register(
    "snapshot_tail_read",
    """
    SELECT user_id, event_id, event_type, ts FROM (
      SELECT user_id, event_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) WHERE rn = 1
    """,
    doc="Snapshot + log-tail read (operators/compaction.py "
    "read_with_snapshot) — the 100 TB read path for the state log: "
    "materialize latest-per-key once (snapshot_latest over the first "
    "half of the log by time), then serve latest-state views as "
    "snapshot UNION tail where tail = log rows past the snapshot "
    "watermark — the `ts > watermark` predicate prunes the log scan "
    "to recent files via row-group min/max, so a read touches "
    "|keys| + |new events| rows, never the full history. The gate "
    "builds the snapshot in a stable scratch dir, runs the real "
    "two-source read, and hash-checks it against the full-log "
    "arg-max oracle (ties broken by event_id DESC on both engines).",
)
def snapshot_tail_read_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.compaction import read_with_snapshot, snapshot_latest

    work = _gate_scratch("snapshot_tail", sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )

    # the full-log write shares no lineage with the snapshot chain
    # (agg → old-half write → snapshot build) until the final read —
    # overlap them so the chain's jobs back-fill the write's tail
    # (guide §2.6; r15 opt)
    from ..pipeline.ingest_increment import _run_concurrently

    bounds: dict = {}

    def _full_log() -> None:
        ev.write.parquet(f"{work}/log")

    def _snapshot_chain() -> None:
        lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
        bounds["lo"] = lo
        if lo is None:
            return
        cutoff = lo + (hi - lo) / 2
        ev.filter(F.col("ts") <= F.lit(cutoff)).write.parquet(f"{work}/log_old")
        snapshot_latest(
            spark, f"{work}/log_old", f"{work}/snap", ["user_id"], "ts",
            tie_break=["event_id"],
        )

    _run_concurrently(_full_log, _snapshot_chain)
    if bounds["lo"] is None:
        # empty log: no snapshot to build, latest-state view is empty
        return ev
    return read_with_snapshot(
        spark, f"{work}/snap", f"{work}/log", ["user_id"], "ts",
        tie_break=["event_id"],
    ).select("user_id", "event_id", "event_type", "ts")


@register(
    "bloom_prefilter_new_users",
    """
    SELECT event_id, user_id FROM events e
    WHERE e.event_type = 'click'
      AND NOT EXISTS (SELECT 1 FROM events s
                      WHERE s.event_type = 'signup'
                        AND s.user_id = e.user_id)
    """,
    doc="Bloom-prefiltered anti-join (incremental-ingest membership at "
    "100 TB): clicks from users with no signup. The 'seen' key set is "
    "folded into a hand-rolled Bloom bitmap (k xxhash64 probes, "
    "bit_or partial agg, <=8 KiB collected — Spark's own "
    "BloomFilterAggregate runtime filter is optimizer-internal, so "
    "the same structure is built as data); the bitmap is embedded as "
    "a LITERAL array so the big probe stream tests membership "
    "MAP-SIDE with zero shuffle and no broadcast. Rows failing the "
    "bloom are definitely-new and bypass the join entirely; only the "
    "maybe-seen survivors (true positives + ~0.1% false positives) "
    "reach the exact anti-join. Result is EXACTLY the plain anti-join "
    "(no false negatives by construction; false positives removed by "
    "the exact check) — which is why the oracle needs no cross-engine "
    "hash parity. At 100 TB this turns 'shuffle the entire increment "
    "against a 10B-row seen set' into 'shuffle the ~seen fraction'.",
)
def bloom_prefilter_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import bloom_bitmap, bloom_might_contain

    ev = load_table(spark, sf_dir, "events")
    seen = ev.filter(F.col("event_type") == "signup").select("user_id").distinct()
    bitmap = bloom_bitmap(seen, F.col("user_id"))
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id")
    # null-key rows: xxhash64(NULL) is NULL, so the bloom test is NULL
    # and BOTH filter branches would silently drop them — but SQL
    # equality never matches NULL, so NOT EXISTS keeps null-key clicks.
    # coalesce(. , false) routes them down the definitely-new path,
    # matching the oracle exactly.
    maybe_seen = F.coalesce(
        bloom_might_contain(bitmap, F.col("user_id")), F.lit(False)
    )
    definitely_new = clicks.filter(~maybe_seen)
    survivors = clicks.filter(maybe_seen).join(seen, on="user_id", how="left_anti")
    return definitely_new.unionByName(survivors.select("event_id", "user_id"))


# DuckDB twin of the multimodal stubs' hex-folding: first `n` hex chars
# of an md5 STRING (already computed) starting at 1-based `p` → int
_HEXFOLD = (
    "list_reduce(list_transform(regexp_extract_all(substr({s}, {p}, {n}), '.'),"
    " c -> strpos('0123456789abcdef', c) - 1), (a, b) -> a * 16 + b)"
)


@register(
    "multimodal_pipeline",
    f"""
    WITH dec AS (
      SELECT doc_id, md5(text) AS ck0,
             {_HEXFOLD.format(s="md5(text)", p=1, n=8)} AS h
      FROM documents
    ), geo AS (
      SELECT doc_id, ck0,
             CAST(64 + h % 512 AS INT) AS w,
             CAST(64 + (h // 512) % 512 AS INT) AS hh,
             CAST(1 + (h // 262144) % 32 AS INT) AS n_frames
      FROM dec
    ), rez AS (
      SELECT doc_id, ck0, n_frames,
             CAST(FLOOR(w * LEAST(1.0, 256.0 / GREATEST(w, hh))) AS INT) AS rw,
             CAST(FLOOR(hh * LEAST(1.0, 256.0 / GREATEST(w, hh))) AS INT) AS rh
      FROM geo
    ), rck AS (
      SELECT doc_id, n_frames, rw, rh,
             md5(ck0 || 'x' || CAST(rw AS VARCHAR) || 'x' || CAST(rh AS VARCHAR)) AS rck
      FROM rez
    ), frames AS (
      SELECT doc_id, rw, rh, rck, CAST(i AS INT) AS frame_index
      FROM rck, unnest(generate_series(0, n_frames - 1, 8)) AS g(i)
    ), feats AS (
      SELECT doc_id, frame_index, rw, rh,
             md5(rck || ':' || CAST(frame_index AS VARCHAR)) AS fh
      FROM frames
    )
    SELECT doc_id, frame_index,
           rw AS resized_width, rh AS resized_height,
           {_HEXFOLD.format(s="fh", p=1, n=4)} / 65536.0 AS f0,
           {_HEXFOLD.format(s="fh", p=5, n=4)} / 65536.0 AS f1,
           {_HEXFOLD.format(s="fh", p=9, n=4)} / 65536.0 AS f2,
           {_HEXFOLD.format(s="fh", p=13, n=4)} / 65536.0 AS f3
    FROM feats
    """,
    doc="Multimodal pipeline end-to-end: binary payload -> typed "
    "metadata -> stubbed DECODE (mapInPandas) -> aspect-preserving "
    "RESIZE geometry (mapInPandas) -> FRAME-SAMPLE every 8th frame "
    "(sequence explode) -> per-frame FEATURE-EXTRACT (mapInPandas, "
    "4-d stub embedding). Every stub derives its output from md5 of "
    "its input, so the full four-stage Arrow chain — schemas, batch "
    "shapes, geometry arithmetic, frame fan-out — is value-hashed "
    "against a SQL twin; real codecs (PIL/ffmpeg/vision model) drop "
    "into the three stub hooks without touching the plan. Features "
    "are exact dyadic doubles (k/2^16) — no rounding anywhere, so "
    "cross-engine equality is exact.",
)
def multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        attach_media,
        decode_media,
        extract_frame_features,
        resize_media,
        sample_frames,
        stub_decoder,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    media = attach_media(docs, "payload", mime="video/x-fake")
    # the FAKE-VIDEO codec, explicitly: a real still-image header
    # always decodes to n_frames=1, which would degenerate the frame-
    # sampling stage this pipeline exists to exercise (the real
    # byte-header decode path is gated by multimodal_decode)
    #
    # r15 opt (guide §4: pass only the columns the stage needs): the
    # payload crosses Arrow exactly ONCE — into the decode stage —
    # instead of six times. Before, the full corpus binary rode
    # through decode (in+out), resize (in+out, where the stub
    # re-hashed it in Python although attach_media had already md5'd
    # it JVM-side), was REPLICATED per frame row by the sample
    # explode, and crossed into/out of the feature stage unused. Now
    # decode drops it on return (keep_payload=False) and resize's
    # stub consumes the JVM checksum. Identical values (the stub's
    # only payload use was md5(payload) = media_meta.checksum); the
    # four-stage Arrow chain the oracle gates is unchanged — three
    # mapInPandas stages + the frame explode still run, on the
    # columns they actually read. On realistic text this removed
    # ~4x the query's wall (the legacy 31-word corpus hid it).
    decoded = decode_media(
        media.select(
            "doc_id", F.col("media_meta.checksum").alias("__ck0"), "payload"
        ),
        "payload",
        decode_fn=stub_decoder,
        keep_payload=False,
    )
    resized = resize_media(decoded, max_side=256, checksum_col="__ck0")
    sampled = sample_frames(resized.drop("__ck0"), every_n=8)
    featured = extract_frame_features(sampled, dim=4)
    return featured.select(
        "doc_id",
        "frame_index",
        "resized_width",
        "resized_height",
        F.col("features")[0].alias("f0"),
        F.col("features")[1].alias("f1"),
        F.col("features")[2].alias("f2"),
        F.col("features")[3].alias("f3"),
    )


@register(
    "asof_join_nearest_click",
    """
    SELECT event_id, user_id, nearest_click_ts FROM (
      SELECT p.event_id, p.user_id, c.ts AS nearest_click_ts,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)), c.ts, c.event_id
             ) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON c.user_id = p.user_id
    ) WHERE rn = 1
    """,
    doc="Extension: NEAREST-neighbor as-of join — for each purchase, "
    "the user's click with minimal |Δt| in EITHER direction (ties to "
    "the earlier click), completing the as-of family next to the "
    "backward carry-forward variant. Spark realization: the SAME "
    "single user/time clustering carries the last click backward AND "
    "the first click forward (two window frames over one shuffle — "
    "no inequality join, no second exchange), then a map-side "
    "comparison picks the nearer side. Oracle: the naive per-pair "
    "min-|Δt| join.",
)
def asof_join_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    # clicks sort before purchases at equal ts: a click at exactly p.ts
    # is captured by the INCLUSIVE backward frame (|Δt| = 0 wins), and
    # the forward frame stays strictly-after
    kind = F.when(F.col("event_type") == "click", 0).otherwise(1)
    base = Window.partitionBy("user_id").orderBy(F.col("ts"), kind, F.col("event_id"))
    wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    carried = ev.withColumn(
        "bwd", F.last(click_ts, ignorenulls=True).over(wb)
    ).withColumn("fwd", F.first(click_ts, ignorenulls=True).over(wf))
    db = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("bwd"))
    df_ = F.unix_micros(F.col("fwd")) - F.unix_micros(F.col("ts"))
    nearest = (
        F.when(F.col("fwd").isNull(), F.col("bwd"))
        .when(F.col("bwd").isNull(), F.col("fwd"))
        # equal deltas -> the earlier (backward) click, matching the
        # oracle's (|Δt|, ts) ordering
        .when(db <= df_, F.col("bwd"))
        .otherwise(F.col("fwd"))
    )
    return carried.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", nearest.alias("nearest_click_ts")
    )


@register(
    "resample_1h_gapfill",
    """
    WITH bounds AS (
      SELECT user_id,
             date_trunc('hour', MIN(ts)) AS h0,
             date_trunc('hour', MAX(ts)) AS h1
      FROM events WHERE user_id % 50 = 0 GROUP BY user_id
    ), grid AS (
      SELECT user_id, CAST(g.h AS TIMESTAMP) AS hour
      FROM bounds, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS g(h)
    ), agg AS (
      SELECT user_id, date_trunc('hour', ts) AS hour,
             CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(SUM(value) + 5e-10, 2) AS total
      FROM events WHERE user_id % 50 = 0 GROUP BY user_id, date_trunc('hour', ts)
    )
    SELECT g.user_id, g.hour,
           COALESCE(a.n, 0) AS n, COALESCE(a.total, 0.0) AS total
    FROM grid g LEFT JOIN agg a ON a.user_id = g.user_id AND a.hour = g.hour
    """,
    doc="Time-series resample with gap filling: hourly activity per "
    "key over each key's OWN [first, last] hour range, absent hours "
    "materialized as zero rows — what every monitoring/training-"
    "telemetry rollup needs before windowed models see the series "
    "(a missing hour and an idle hour must be distinguishable). "
    "Scale shape: the dense grid comes from a per-key sequence "
    "explode of the bounds row — |keys| + |rows| work, NEVER a "
    "calendar cross join — and the grid/agg join rides the same "
    "user clustering as the aggregation. The mod-50 key slice keeps "
    "the demo grid bounded; the plan is slice-agnostic.",
)
def resample_1h_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 50 == 0)
    hour = F.date_trunc("hour", F.col("ts"))
    agg = ev.groupBy("user_id", hour.alias("hour")).agg(
        F.count(F.lit(1)).alias("n"),
        # +5e-10 before ROUND on both engines: partial-agg order differs
        # between Spark and DuckDB, and a sum within an ulp of a .005
        # boundary would otherwise flip the 2-dp rounding cross-engine.
        F.round(F.sum("value") + F.lit(5e-10), 2).alias("total"),
    )
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    return grid.join(agg, on=["user_id", "hour"], how="left").select(
        "user_id",
        "hour",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.coalesce("total", F.lit(0.0)).alias("total"),
    )


@register(
    "event_funnel_conversion",
    """
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_users,
      CAST(COUNT(t_signup) AS BIGINT) AS n_signup,
      CAST(SUM(CASE WHEN t_click > t_signup THEN 1 ELSE 0 END) AS BIGINT)
        AS n_signup_then_click,
      CAST(SUM(CASE WHEN t_click > t_signup AND t_purchase > t_click
               THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
    FROM firsts
    """,
    doc="Ordered event funnel: users who signed up, then clicked "
    "AFTER signing up, then purchased AFTER that first click — the "
    "product-analytics staple (strict ordering on FIRST occurrence "
    "per stage; NULL stage times fail the > predicate, so "
    "non-reaching users drop out of later stages without explicit "
    "null handling). One conditional-min aggregation per user — "
    "map-side partial, shuffle carries 3 timestamps per user — then "
    "a global count rollup; no self-joins, no per-stage passes. At "
    "100 TB the events scan is the only data-sized stage.",
)
def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def first_ts(kind: str):
        return F.min(F.when(F.col("event_type") == kind, F.col("ts")))

    firsts = ev.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    s_then_c = F.col("t_click") > F.col("t_signup")
    full = s_then_c & (F.col("t_purchase") > F.col("t_click"))
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_signup").alias("n_signup"),
        F.sum(s_then_c.cast("int")).cast("long").alias("n_signup_then_click"),
        F.sum(full.cast("int")).cast("long").alias("n_full_funnel"),
    )
