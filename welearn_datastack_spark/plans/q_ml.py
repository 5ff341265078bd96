"""ML / vector query group — the classifier column logic (SURVEY.md
§2.9 M3) and the similarity-search operators over the ``embeddings``
table (64-dim float vectors).

The model forward passes themselves (M1/M2) are pandas-UDF stages in
functions/udfs.py with deterministic stub models for tests; everything
downstream of the proba vector is pure column logic and is
oracle-checked here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import bucket_topk, cosine_pairs, sq8_dequantize
from ..sources.tables import fan_out_for_compute, load_table
from .registry import register

# Shared DuckDB CTE: cosine between query set (vec_id < 10) and corpus
# (vec_id >= 10), computed element-wise in double like the Spark side.
_COSINE_CTE = """
WITH qe AS (
  SELECT vec_id AS q_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
  FROM embeddings WHERE vec_id < 10
), ce AS (
  SELECT vec_id AS c_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
  FROM embeddings WHERE vec_id >= 10
), norms AS (
  SELECT vec_id, sqrt(SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))  AS nrm
  FROM (SELECT vec_id, unnest(embedding) AS v FROM embeddings) GROUP BY vec_id
), pairs AS (
  SELECT qe.q_id, ce.c_id,
         ROUND(SUM(CAST(qe.v AS DOUBLE) * CAST(ce.v AS DOUBLE))
               / (nq.nrm * nc.nrm), 6) AS cosine
  FROM qe JOIN ce ON qe.i = ce.i
  JOIN norms nq ON nq.vec_id = qe.q_id
  JOIN norms nc ON nc.vec_id = ce.c_id
  GROUP BY qe.q_id, ce.c_id, nq.nrm, nc.nrm
)
"""


def _split(spark: SparkSession, sf_dir: str):
    """The bucket_topk frames of the serve queries: probes (q_id, qe)
    are vec_id < 10, the corpus (c_id, ce, label) the rest."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    # the corpus side feeds O(dim²)-per-row scoring kernels — its
    # parallelism must not be hostage to the scan's split count
    # (fan_out_for_compute is a no-op once the layout provides splits)
    corpus = fan_out_for_compute(
        emb.filter(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce"), "label"
        )
    )
    return queries, corpus


@register(
    "classify_argmax",
    """
    SELECT vec_id,
           CAST(list_indexof(embedding, list_max(embedding)) AS BIGINT) AS best_idx,
           ROUND(CAST(list_max(embedding) AS DOUBLE), 6) AS best_score,
           ROUND(CAST(list_max(embedding) AS DOUBLE), 6) > 0.15 AS accepted,
           CASE WHEN label % 3 = 0 THEN label
                WHEN ROUND(CAST(list_max(embedding) AS DOUBLE), 6) > 0.15
                  THEN CAST(list_indexof(embedding, list_max(embedding)) AS INT)
           END AS final_label,
           CASE WHEN label % 3 = 0 THEN NULL ELSE 'clf-v1' END AS n_classifier_id
    FROM embeddings
    """,
    doc="M3: n-classify column logic — argmax over the proba vector, "
    "0.15 acceptance threshold, forced-label override with "
    "n_classifier_id nulled when forced (ref sdgs_classifiers.py:48-122, "
    "quirk at :81,:121)",
)
def classify_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    best = F.array_max("embedding")
    idx = F.array_position(F.col("embedding"), best)
    score = F.round(best.cast("double"), 6)
    accepted = score > 0.15
    forced = F.col("label") % 3 == 0
    return emb.select(
        "vec_id",
        idx.alias("best_idx"),
        score.alias("best_score"),
        accepted.alias("accepted"),
        F.when(forced, F.col("label"))
        .when(accepted, idx.cast("int"))
        .alias("final_label"),
        F.when(forced, F.lit(None).cast("string")).otherwise(F.lit("clf-v1")).alias(
            "n_classifier_id"
        ),
    )


@register(
    "cosine_topk",
    _COSINE_CTE
    + """
    SELECT q_id, c_id, cosine, rnk FROM (
      SELECT q_id, c_id, cosine,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY cosine DESC, c_id ASC) AS INT) AS rnk
      FROM pairs
    ) WHERE rnk <= 5
    """,
    doc="Similarity search: brute-force cosine top-5 per query vector "
    "(Qdrant search shape, locustfile.py:62); broadcast nested-loop + "
    "per-query top-k window",
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    queries, corpus = _split(spark, sf_dir)
    return bucket_topk(queries, corpus, k=5)


@register(
    "grouped_vector_search",
    _COSINE_CTE
    + """
    , lbl AS (SELECT vec_id AS c_id, label FROM embeddings WHERE vec_id >= 10),
    best AS (
      SELECT q_id, label, cosine, c_id FROM (
        SELECT p.q_id, l.label, p.cosine, p.c_id,
               row_number() OVER (PARTITION BY p.q_id, l.label
                                  ORDER BY p.cosine DESC, p.c_id ASC) AS r1
        FROM pairs p JOIN lbl l ON l.c_id = p.c_id
      ) WHERE r1 = 1
    )
    SELECT q_id, label, cosine, c_id, rnk FROM (
      SELECT q_id, label, cosine, c_id,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY cosine DESC, label ASC) AS INT) AS rnk
      FROM best
    ) WHERE rnk <= 3
    """,
    doc="Grouped vector search: best hit per (query, group), top-3 groups "
    "per query (Qdrant grouped search, locustfile.py:82-87)",
)
def grouped_vector_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    queries, corpus = _split(spark, sf_dir)
    return bucket_topk(queries, corpus, k=3, group_col="label").select(
        "q_id", "label", "cosine", "c_id", "rnk"
    )


@register(
    "embedding_near_dup",
    """
    WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
    ae AS (
      SELECT vec_id AS a_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
      FROM sub
    ), be AS (
      SELECT vec_id AS b_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
      FROM sub
    ), norms AS (
      SELECT vec_id, sqrt(SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS nrm
      FROM (SELECT vec_id, unnest(embedding) AS v FROM sub) GROUP BY vec_id
    )
    SELECT a_id, b_id, cosine FROM (
      SELECT ae.a_id, be.b_id,
             ROUND(SUM(CAST(ae.v AS DOUBLE) * CAST(be.v AS DOUBLE))
                   / (na.nrm * nb.nrm), 6) AS cosine
      FROM ae JOIN be ON ae.i = be.i AND ae.a_id < be.b_id
      JOIN norms na ON na.vec_id = ae.a_id
      JOIN norms nb ON nb.vec_id = be.b_id
      GROUP BY ae.a_id, be.b_id, na.nrm, nb.nrm
    ) WHERE cosine >= 0.35
    """,
    doc="Dedup: embedding-cosine near-duplicate pairs above threshold "
    "(LLM-pipeline near-dup; brute-force baseline, LSH-bucketed scale "
    "path in operators/similarity.py)",
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    a = emb.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"))
    b = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce"))
    pairs = cosine_pairs(a, b)
    return (
        pairs.filter((F.col("q_id") < F.col("c_id")) & (F.col("cosine") >= 0.35))
        .select(F.col("q_id").alias("a_id"), F.col("c_id").alias("b_id"), "cosine")
    )


# ---------------------------------------------------------------------------
# IVF-style ANN: a deterministic coarse quantizer (8 fixed centroid
# vectors), corpus assigned to its nearest list, queries probe the 2
# nearest lists — search cost drops from |C| to the probed lists.
# ---------------------------------------------------------------------------

_CENTROID_IDS = (20, 60, 100, 140, 180, 220, 260, 300)
_CENTROID_SQL = ", ".join(str(i) for i in _CENTROID_IDS)

# IVF CTE chain sans the norms CTE (shared with _COSINE_CTE's, which
# is definition-identical) — reused by the per-method recall report
_IVF_TAIL = f"""
cent AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
            WHERE vec_id IN ({_CENTROID_SQL})),
allv AS (SELECT vec_id, embedding AS ve FROM embeddings),
cos_to_cent AS (
  SELECT a.vec_id, c.cent_id,
         ROUND(list_sum(list_transform(generate_series(1, 64),
                 i -> CAST(a.ve[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
               / (na.nrm * nc.nrm), 6) AS cos
  FROM allv a CROSS JOIN cent c
  JOIN norms na ON na.vec_id = a.vec_id
  JOIN norms nc ON nc.vec_id = c.cent_id
), assign AS (
  SELECT vec_id, cent_id FROM (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id ASC) AS rn
    FROM cos_to_cent) WHERE rn = 1
), probes AS (
  SELECT vec_id AS q_id, cent_id FROM (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id ASC) AS rn
    FROM cos_to_cent WHERE vec_id < 10) WHERE rn <= 2
), cand AS (
  SELECT p.q_id, a.vec_id AS c_id FROM probes p
  JOIN assign a ON a.cent_id = p.cent_id AND a.vec_id >= 10
), scored AS (
  SELECT k.q_id, k.c_id,
         ROUND(list_sum(list_transform(generate_series(1, 64),
                 i -> CAST(q.ve[i] AS DOUBLE) * CAST(c.ve[i] AS DOUBLE)))
               / (nq.nrm * nc.nrm), 6) AS cosine
  FROM cand k
  JOIN allv q ON q.vec_id = k.q_id
  JOIN allv c ON c.vec_id = k.c_id
  JOIN norms nq ON nq.vec_id = k.q_id
  JOIN norms nc ON nc.vec_id = k.c_id
)
"""

_NORMS_CTE = """
norms AS (
  SELECT vec_id, sqrt(SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS nrm
  FROM (SELECT vec_id, unnest(embedding) AS v FROM embeddings) GROUP BY vec_id
)
"""

_IVF_ORACLE = (
    "WITH "
    + _NORMS_CTE
    + ", "
    + _IVF_TAIL
    + """
SELECT q_id, c_id, cosine, rnk FROM (
  SELECT q_id, c_id, cosine,
         CAST(row_number() OVER (PARTITION BY q_id
                                 ORDER BY cosine DESC, c_id ASC) AS INT) AS rnk
  FROM scored) WHERE rnk <= 3
"""
)


def _ivf_lists_probes(
    spark: SparkSession, sf_dir: str, *, with_label: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Shared IVF quantizer for the serve queries (ivf_ann_topk and
    ivf_grouped_topk share one probe geometry and one _IVF_TAIL
    oracle, so they must share one construction — round-15
    self-review): ONE 8-row bounded centroid collect, baked back as
    literals; returns (lists, probes) = the assigned corpus
    (vec_id >= 10) and the 2-probe query fan-out (vec_id < 10).

    The row norm is projected ONCE; each centroid's score then costs
    one dot fold instead of a dot plus two norm folds. The
    baked-literal fold is compute-dense per row, so the corpus must
    not inherit a single-split scan's parallelism
    (fan_out_for_compute is a no-op on parallel layouts)."""
    from ..operators.similarity import baked_centroid_scores, l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    # bounded collect: the 8 IVF centroid rows (the quantizer)
    cent_rows = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id").isin(*_CENTROID_IDS)).collect()
    ]
    label = ["label"] if with_label else []
    base = fan_out_for_compute(emb).select(
        "vec_id", "embedding", *label, l2_norm(F.col("embedding")).alias("__nrm")
    )
    scores = baked_centroid_scores(
        "embedding", cent_rows, "cosine", norm_col="__nrm"
    )
    lists = base.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("ce"),
        *label,
        (-F.array_max(scores)["t"]).alias("cent_id"),
    )
    probes = (
        base.filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("qe"),
            F.explode(F.slice(F.sort_array(scores, asc=False), 1, 2)).alias("p"),
        )
        .select("q_id", "qe", (-F.col("p")["t"]).alias("cent_id"))
    )
    return lists, probes


@register(
    "ivf_ann_topk",
    _IVF_ORACLE,
    doc="Similarity search, IVF scale path: coarse-quantize the corpus "
    "into 8 centroid lists (assignment = nearest centroid by cosine), "
    "queries probe their 2 nearest lists, exact search only within "
    "probed lists. At 100 TB: the k centroids are baked literals "
    "(bounded collect), so assignment AND probe ranking are map "
    "expressions over the scan; candidates score inside a broadcast "
    "join on the list id, so the corpus embedding column is NEVER "
    "shuffled — the only exchange is the narrow (q_id, c_id, cosine) "
    "top-k. Round-8 shuffle-byte audit caught the previous plan's "
    "c_id-keyed embedding shuffle growing 45x across one sf1→sf3 "
    "step once the corpus outgrew the broadcast threshold.",
)
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    lists, probes = _ivf_lists_probes(spark, sf_dir)
    return bucket_topk(probes, lists, k=3, on=("cent_id",))


_IVF_GROUPED_ORACLE = (
    "WITH "
    + _NORMS_CTE
    + ", "
    + _IVF_TAIL
    + """
, lbl AS (SELECT vec_id AS c_id, label FROM embeddings),
best AS (
  SELECT q_id, label, cosine, c_id FROM (
    SELECT s.q_id, l.label, s.cosine, s.c_id,
           row_number() OVER (PARTITION BY s.q_id, l.label
                              ORDER BY s.cosine DESC, s.c_id ASC) AS r1
    FROM scored s JOIN lbl l ON l.c_id = s.c_id
  ) WHERE r1 = 1
)
SELECT q_id, label, cosine, c_id, rnk FROM (
  SELECT q_id, label, cosine, c_id,
         CAST(row_number() OVER (PARTITION BY q_id
                                 ORDER BY cosine DESC, label ASC) AS INT) AS rnk
  FROM best) WHERE rnk <= 3
"""
)


@register(
    "ivf_grouped_topk",
    _IVF_GROUPED_ORACLE,
    doc="Grouped ANN serve on the IVF scale path (round-14 verdict item "
    "2): the reference's real serve workload is GROUPED search (Qdrant "
    "group_by document_id, group_size 1, limit N; "
    "locustfiles/locustfile.py:82-87), previously realized only by the "
    "brute-force grouped_vector_search crossJoin. Here: baked-literal "
    "quantizer assignment as a map expression over the scan, probes as "
    "a broadcast equi-join on the list id (the corpus embedding column "
    "is NEVER shuffled), then best-per-(query,group) and top-3 groups "
    "as narrow windows — same exchange budget as ivf_ann_topk plus one "
    "window. grouped_vector_search stays as the exact recall yardstick.",
)
def ivf_grouped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    lists, probes = _ivf_lists_probes(spark, sf_dir, with_label=True)
    return bucket_topk(probes, lists, k=3, on=("cent_id",), group_col="label").select(
        "q_id", "label", "cosine", "c_id", "rnk"
    )


# SQ8 CTE chain with sq_-prefixed names so it can coexist with
# _COSINE_CTE's norms/pairs inside the per-method recall report
_SQ8_TAIL = """
rng AS (
      SELECT vec_id, MIN(CAST(v AS DOUBLE)) AS mn, MAX(CAST(v AS DOUBLE)) AS mx
      FROM (SELECT vec_id, unnest(embedding) AS v FROM embeddings) GROUP BY vec_id
    ), deq AS (
      SELECT e.vec_id, ge.i, r.mn, r.mx,
             CASE WHEN r.mx > r.mn
                  THEN r.mn + floor((CAST(ge.v AS DOUBLE) - r.mn) / ((r.mx - r.mn) / 255.0))
                             * ((r.mx - r.mn) / 255.0)
                  ELSE r.mn END AS v
      FROM embeddings e
      JOIN rng r ON r.vec_id = e.vec_id,
      LATERAL (SELECT unnest(e.embedding) AS v, generate_subscripts(e.embedding, 1) AS i) ge
    ), sq_norms AS (
      SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM deq GROUP BY vec_id
    ), sq_pairs AS (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             ROUND(SUM(q.v * c.v) / (nq.nrm * nc.nrm), 6) AS cosine
      FROM deq q JOIN deq c ON q.i = c.i AND q.vec_id < 10 AND c.vec_id >= 10
      JOIN sq_norms nq ON nq.vec_id = q.vec_id
      JOIN sq_norms nc ON nc.vec_id = c.vec_id
      GROUP BY q.vec_id, c.vec_id, nq.nrm, nc.nrm
    )
"""


def _sq8_topk(queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """Exact top-k over SQ8-dequantized vectors of ``_split``'s frames."""
    dq = queries.select("q_id", sq8_dequantize(F.col("qe")).alias("qe"))
    dc = corpus.select("c_id", sq8_dequantize(F.col("ce")).alias("ce"))
    return bucket_topk(dq, dc, k)


@register(
    "sq8_ann_topk",
    "WITH "
    + _SQ8_TAIL
    + """
    SELECT q_id, c_id, cosine, rnk FROM (
      SELECT q_id, c_id, cosine,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY cosine DESC, c_id ASC) AS INT) AS rnk
      FROM sq_pairs
    ) WHERE rnk <= 5
    """,
    doc="Similarity search, SQ8 path: per-vector scalar quantization "
    "to 256 levels (floor, deterministic), cosine top-5 on the "
    "dequantized values — the 4×-memory-compression ANN variant; "
    "same broadcast nested-loop + per-query top-k plan as the exact "
    "path, so swapping precision never changes the plan shape.",
)
def sq8_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sq8_topk(*_split(spark, sf_dir), k=5)


@register(
    "embedding_dispersion",
    """
    WITH ex AS (
      SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), cent AS (
      SELECT label, i, AVG(v) AS c FROM ex GROUP BY label, i
    ), per_vec AS (
      SELECT vec_id, ex.label,
             SUM(v * c) AS dot, SUM(v * v) AS nv, SUM(c * c) AS nc
      FROM ex JOIN cent ON cent.label = ex.label AND cent.i = ex.i
      GROUP BY vec_id, ex.label
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(dot / (sqrt(nv) * sqrt(nc))) + 5e-10, 4)
             AS avg_cos_to_centroid
    FROM per_vec GROUP BY label
    """,
    doc="Corpus-diversity profiling: per-label embedding dispersion — "
    "mean cosine of each vector to its label centroid (1.0 = "
    "collapsed/duplicate cluster, → 0 = diverse; the standard "
    "diversity gate before sampling a training mix). The centroid "
    "is an element-wise AVG over posexploded vectors: one shuffle "
    "on (label, pos) bounded by |labels|×dim regardless of corpus "
    "size, then the cosine rollup re-clusters on vec_id. At 100 TB "
    "the centroid table is KBs and broadcast; no pairwise "
    "comparison anywhere (mean pairwise cosine ≈ centroid form via "
    "the norm identity).",
)
def embedding_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    spark_par = spark.sparkContext.defaultParallelism
    ex = (
        emb.repartition(spark_par, "vec_id")
        .select(
            "vec_id",
            "label",
            F.posexplode("embedding").alias("i0", "vf"),
        )
        .select(
            "vec_id",
            "label",
            (F.col("i0") + 1).alias("i"),
            F.col("vf").cast("double").alias("v"),
        )
    )
    cent = ex.groupBy("label", "i").agg(F.avg("v").alias("c"))
    per_vec = (
        ex.join(F.broadcast(cent), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("v") * F.col("c")).alias("dot"),
            F.sum(F.col("v") * F.col("v")).alias("nv"),
            F.sum(F.col("c") * F.col("c")).alias("nc"),
        )
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.avg(F.col("dot") / (F.sqrt("nv") * F.sqrt("nc"))) + F.lit(5e-10), 4
        ).alias("avg_cos_to_centroid"),
    )


def _lsh_topk_sql(k: int) -> str:
    from .q_extra import _bucket_sql

    return f"""
    tagged AS (
      SELECT vec_id, embedding, {_bucket_sql()} AS bucket FROM embeddings
    ), lq AS (SELECT vec_id AS q_id, embedding AS qe, bucket FROM tagged WHERE vec_id < 10),
    lc AS (SELECT vec_id AS c_id, embedding AS ce, bucket FROM tagged WHERE vec_id >= 10),
    lsh_pairs AS (
      SELECT lq.q_id, lc.c_id,
             ROUND(
               list_sum(list_transform(generate_series(1, 64),
                 i -> CAST(lq.qe[i] AS DOUBLE) * CAST(lc.ce[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(generate_series(1, 64),
                    i -> CAST(lq.qe[i] AS DOUBLE) * CAST(lq.qe[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(generate_series(1, 64),
                    i -> CAST(lc.ce[i] AS DOUBLE) * CAST(lc.ce[i] AS DOUBLE))))), 6) AS cosine
      FROM lq JOIN lc ON lc.bucket = lq.bucket
    ),
    lsh_top AS (
      SELECT q_id, c_id FROM (
        SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
                             ORDER BY cosine DESC, c_id ASC) AS rnk
        FROM lsh_pairs) WHERE rnk <= {k}
    )"""


@register(
    "ann_recall_report",
    _COSINE_CTE
    + ","
    + _lsh_topk_sql(3)
    + """
    , exact_top AS (
      SELECT q_id, c_id FROM (
        SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
                             ORDER BY cosine DESC, c_id ASC) AS rnk
        FROM pairs) WHERE rnk <= 3
    )
    SELECT e.q_id,
           CAST(COUNT(*) AS INT) AS n_exact,
           CAST(COUNT(l.c_id) AS INT) AS n_overlap,
           ROUND(COUNT(l.c_id) / 3.0, 6) AS recall_at_3
    FROM exact_top e
    LEFT JOIN lsh_top l ON l.q_id = e.q_id AND l.c_id = e.c_id
    GROUP BY e.q_id
    """,
    doc="ANN quality gate: recall@3 of the LSH sign-bucket path "
    "against the exact brute-force top-3, per query — the measurement "
    "that calibrates the planes-vs-recall dial before trading exact "
    "search for the bucketed path at scale. Both engines compute BOTH "
    "paths (shared plane literals), so the recall fractions are "
    "value-checked, not just row-counted.",
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .q_extra import lsh_ann_topk

    queries, corpus = _split(spark, sf_dir)
    exact = bucket_topk(queries, corpus, k=3).select("q_id", "c_id")
    lsh_top = lsh_ann_topk(spark, sf_dir).select("q_id", F.col("c_id").alias("l_c_id"))

    joined = exact.join(
        lsh_top,
        (exact.q_id == lsh_top.q_id) & (exact.c_id == lsh_top.l_c_id),
        "left",
    ).select(exact.q_id.alias("q_id"), "c_id", "l_c_id")
    return joined.groupBy("q_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_exact"),
        F.count("l_c_id").cast("int").alias("n_overlap"),
        F.round(F.count("l_c_id") / 3.0, 6).alias("recall_at_3"),
    )


_EXACT_TOP3_CTE = """
exact_top AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
                         ORDER BY cosine DESC, c_id ASC) AS rnk
    FROM pairs) WHERE rnk <= 3
)
"""

_RECALL_AGG = """
  SELECT '{m}' AS method,
         CAST(COUNT(DISTINCT e.q_id) AS BIGINT) AS n_queries,
         ROUND(COUNT(t.c_id) / (3.0 * COUNT(DISTINCT e.q_id)) + 5e-10, 4)
           AS mean_recall_at_3
  FROM exact_top e
  LEFT JOIN {top} t ON t.q_id = e.q_id AND t.c_id = e.c_id
"""

_METHOD_RECALL_ORACLE = (
    "SELECT * FROM (\n"
    + _COSINE_CTE
    + ", "
    + _lsh_topk_sql(3).lstrip()
    + ", "
    + _EXACT_TOP3_CTE
    + _RECALL_AGG.format(m="lsh", top="lsh_top")
    + ")\nUNION ALL\nSELECT * FROM (\n"
    + _COSINE_CTE
    + ", "
    + _IVF_TAIL
    + """, ivf_top AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
                         ORDER BY cosine DESC, c_id ASC) AS rnk
    FROM scored) WHERE rnk <= 3
), """
    + _EXACT_TOP3_CTE
    + _RECALL_AGG.format(m="ivf", top="ivf_top")
    + ")\nUNION ALL\nSELECT * FROM (\n"
    + _COSINE_CTE
    + ", "
    + _SQ8_TAIL
    + """, sq_top AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
                         ORDER BY cosine DESC, c_id ASC) AS rnk
    FROM sq_pairs) WHERE rnk <= 3
), """
    + _EXACT_TOP3_CTE
    + _RECALL_AGG.format(m="sq8", top="sq_top")
    + ")"
)


@register(
    "ann_method_recall",
    _METHOD_RECALL_ORACLE,
    doc="ANN quality gate across ALL approximate paths: mean recall@3 "
    "vs the exact brute-force top-3 for the LSH sign-bucket, IVF "
    "2-probe, and SQ8 quantized variants — one row per method. This "
    "is the dial a 100 TB deployment reads before trading exact "
    "search for an approximate path: LSH recall tracks plane count, "
    "IVF recall tracks probe count, SQ8 recall tracks quantization "
    "error. Every branch recomputes both the exact and approximate "
    "tops in BOTH engines (shared literals), so the recall fractions "
    "are value-hashed, not just row-counted.",
)
def ann_method_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .q_extra import lsh_ann_topk

    queries, corpus = _split(spark, sf_dir)
    exact = bucket_topk(queries, corpus, k=3).select("q_id", "c_id")

    def branch(top: DataFrame, name: str) -> DataFrame:
        t = top.select(F.col("q_id").alias("m_q_id"), F.col("c_id").alias("m_c_id"))
        j = exact.join(
            t, (exact.q_id == t.m_q_id) & (exact.c_id == t.m_c_id), "left"
        )
        return j.agg(
            F.countDistinct(exact.q_id).alias("n_queries"),
            F.round(
                F.count("m_c_id") / (3.0 * F.countDistinct(exact.q_id)) + F.lit(5e-10),
                4,
            ).alias("mean_recall_at_3"),
        ).select(F.lit(name).alias("method"), "n_queries", "mean_recall_at_3")

    return (
        branch(lsh_ann_topk(spark, sf_dir), "lsh")
        .unionByName(branch(ivf_ann_topk(spark, sf_dir), "ivf"))
        .unionByName(branch(_sq8_topk(queries, corpus, k=3), "sq8"))
    )


@register(
    "cosine_topk_blas",
    _COSINE_CTE
    + """
    SELECT q_id, list(c_id ORDER BY c_id) AS c_ids FROM (
      SELECT q_id, c_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, c_id ASC) AS rnk
      FROM pairs
    ) WHERE rnk <= 5
    GROUP BY q_id
    """,
    doc="Similarity search, BLAS alternate: the same brute-force "
    "cosine top-5 as cosine_topk but scored as one numpy matmul per "
    "corpus Arrow batch with per-batch top-k preselection "
    "(operators/similarity.py blas_topk). Benchmark twin for the "
    "JVM-kernel-vs-Arrow-BLAS crossover (SCALE.md §6). Gate surface: "
    "the per-query TOP-K ID SET (sorted), which is order-stable even "
    "though numpy's pairwise float summation differs from the JVM "
    "fold (and from the oracle's sequential SQL SUM) in the last ulp "
    "— the 6-digit-rounded ranking can only flip at an inter-score "
    "gap ≲1e-6, orders below the real score gaps — so this is a FULL "
    "hash gate; the raw scores themselves are equivalence-tested "
    "under tolerance against the JVM kernel in "
    "tests/test_similarity_blas.py.",
)
def cosine_topk_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import blas_topk

    queries, corpus = _split(spark, sf_dir)
    top = blas_topk(queries, corpus, k=5)
    return top.groupBy("q_id").agg(F.array_sort(F.collect_list("c_id")).alias("c_ids"))


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup: cluster the corpus with the coarse
# quantizer, then compare ONLY within clusters — the pruning that makes
# embedding dedup tractable when all-pairs is |C|².
# ---------------------------------------------------------------------------

_SEMDEDUP_TAU = 0.28

from ..operators.similarity import (  # noqa: E402
    plane_weight_sql,
    sem_assign_bits_sql,
    stride_centroid_params_sql,
)

# Standalone chain (not _IVF_TAIL): the centroid set is the
# corpus-scaled stride pick and the ASSIGNMENT is bucket-pruned —
# vectors score only the centroids sharing their sign-bucket (the
# IVF-probe pruning, made deterministic) — everything computed from
# COUNT(*) with the same literals as operators/similarity. Vectors
# whose bucket holds no centroid self-assign (singleton cluster).
_SEMDEDUP_ORACLE = (
    "WITH "
    + _NORMS_CTE
    + ", params AS "
    + stride_centroid_params_sql("embeddings")
    + f"""
, nb AS (SELECT {sem_assign_bits_sql("embeddings")} AS bits FROM embeddings),
planes AS (
  SELECT bit, list_transform(generate_series(1, 64),
           j -> {plane_weight_sql(211, 'bit', 'j - 1')}) AS w
  FROM (SELECT unnest(generate_series(0, (SELECT bits FROM nb) - 1)) AS bit)
), buck AS (
  SELECT e.vec_id,
         string_agg(CASE WHEN list_sum(list_transform(generate_series(1, 64),
             i -> CAST(e.embedding[i] AS DOUBLE) * p.w[i])) >= 0
             THEN '1' ELSE '0' END, '' ORDER BY p.bit) AS bk
  FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id
), cent AS (
  SELECT b.vec_id AS cent_id, b.bk, e.embedding AS ce
  FROM buck b JOIN embeddings e USING (vec_id), params
  WHERE b.vec_id % stride = off
), cand AS (
  SELECT v.vec_id, c.cent_id,
         ROUND(list_sum(list_transform(generate_series(1, 64),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
               / (nv.nrm * nc.nrm), 6) AS cos
  FROM buck v
  JOIN embeddings e ON e.vec_id = v.vec_id
  JOIN cent c ON c.bk = v.bk
  JOIN norms nv ON nv.vec_id = v.vec_id
  JOIN norms nc ON nc.vec_id = c.cent_id
), best AS (
  SELECT vec_id, cent_id FROM (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id ASC) AS rn
    FROM cand) WHERE rn = 1
), assign AS (
  SELECT e.vec_id, COALESCE(b.cent_id, e.vec_id) AS cent_id
  FROM embeddings e LEFT JOIN best b ON b.vec_id = e.vec_id
), mem AS (
  SELECT a.vec_id, a.cent_id, v.embedding AS ve
  FROM assign a JOIN embeddings v ON v.vec_id = a.vec_id
), sem_pairs AS (
  SELECT x.vec_id AS a_id, y.vec_id AS b_id,
         ROUND(list_sum(list_transform(generate_series(1, 64),
                 i -> CAST(x.ve[i] AS DOUBLE) * CAST(y.ve[i] AS DOUBLE)))
               / (na.nrm * nb.nrm), 6) AS cos
  FROM mem x JOIN mem y ON x.cent_id = y.cent_id AND x.vec_id < y.vec_id
  JOIN norms na ON na.vec_id = x.vec_id
  JOIN norms nb ON nb.vec_id = y.vec_id
), dup AS (
  SELECT b_id AS vec_id, MIN(a_id) AS dup_of
  FROM sem_pairs WHERE cos >= {_SEMDEDUP_TAU} GROUP BY b_id
)
SELECT a.vec_id, a.cent_id, d.dup_of, d.dup_of IS NULL AS kept
FROM assign a LEFT JOIN dup d ON d.vec_id = a.vec_id
"""
)


@register(
    "semantic_dedup_flags",
    _SEMDEDUP_ORACLE,
    doc="Semantic dedup (SemDeDup-style; Abbas et al. 2023), "
    "CORPUS-SCALED end to end: the coarse quantizer has k ~ "
    "max(8, n/64) centroids picked by a deterministic id stride "
    "(operators/similarity.stride_centroid_params), so per-cluster "
    "membership — and the |cluster|² cosine work inside it — stays "
    "constant while cluster count (= shuffle keys = parallelism) "
    "grows with the corpus. Assignment is BUCKET-PRUNED: brute "
    "nearest-centroid scoring is n·k ≈ n²/64 dots (the quadratic "
    "merely moved up a stage — measured 102 of 116 s at sf1), so "
    "each vector scores only the ~4 centroids sharing its "
    "deterministic sign-bucket (sem_assign_bits planes, seed 211) — "
    "the IVF-probe pruning with an exact SQL twin; bucketless "
    "vectors self-assign as singletons. Every sizing formula is "
    "computed from COUNT(*) identically in both engines, so the "
    "full hash gate holds. Near-duplicates are flagged by pairwise "
    "cosine >= tau within a cluster only; pairs come from the "
    "bucket self-pair kernel (operators/dedup.bucket_pairs) "
    "so a dense cluster can never serialize onto one task; the "
    "min-id member of each semantic-dup group is kept.",
)
def semantic_dedup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        bucket_key_col,
        bucket_pruned_assign,
        derive_planes,
        dot,
        l2_norm,
        sem_assign_bits,
        stride_centroid_params,
    )

    par = spark.sparkContext.defaultParallelism
    # repartition BEFORE the fold-heavy map stages: a small parquet
    # file arrives as 1-2 scan splits, which would serialize the
    # per-vector bucket/norm folds onto two cores (measured 15x at
    # sf1); at 100 TB the scan has thousands of splits and this is
    # noise
    base = load_table(spark, sf_dir, "embeddings")
    emb = base.repartition(par)
    # sizing count on the BARE scan (footer-metadata count) —
    # counting the repartitioned frame would pay its exchange
    n = base.count()
    # the corpus-sized quantizer: stride centroids (seed-211 sign
    # buckets) with self-assigned singletons
    stride, off = stride_centroid_params(n)
    planes = derive_planes(seed=211, n_bits=sem_assign_bits(n), dims=64)
    # bucket-pruned assignment (the IVF-probe pruning, deterministic):
    # scoring every vector against every centroid is n·k ≈ n²/64 dots
    # — quadratic, and measured as 102 of 116 s at sf1. Instead each
    # vector scores ONLY the ~4 centroids sharing its sign-bucket;
    # bucketless vectors self-assign as singleton clusters.
    # pin the fold products ONCE (r15 opt): tagged is referenced by
    # the centroid leg, the assignment probe, and the member join —
    # un-pinned, the per-vector bucket/norm folds (the widest
    # expressions in the plan) are REPLICATED into each consumer
    # subtree, which both re-executes them and bloats the
    # logical plan Catalyst re-optimizes on every sink (measured
    # ~1.3 s/opt pass on semantic_dedup_flags at sf0.1)
    tagged = emb.select(
        "vec_id",
        "embedding",
        l2_norm(F.col("embedding")).alias("nrm"),
        bucket_key_col(F.col("embedding"), planes).alias("bk"),
    ).localCheckpoint(eager=True)
    cents = tagged.filter(F.col("vec_id") % stride == off).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cnrm"),
        "bk",
    )
    # centroids are the BROADCAST side (k rows — never the corpus);
    # the arg-max is map-side-combinable (operators/similarity.
    # bucket_pruned_assign, shared with the incremental variant)
    best = bucket_pruned_assign(tagged, cents)
    # tagged.select over the pinned rows, not a second emb scan —
    # same vec_id set by construction
    assign = (
        tagged.select("vec_id")
        .join(best, on="vec_id", how="left")
        .select("vec_id", F.coalesce("cent_id", "vec_id").alias("cent_id"))
        # narrow (two ids/row) and consumed by both the member join
        # and the final dup join — pin so the broadcast-argmax probe
        # runs once per build
        .localCheckpoint(eager=True)
    )
    # norms are computed ONCE per vector (tagged), not per pair — the
    # pair stage is the quadratic part (|cluster|² dots), so pushing
    # the two 64-element norm folds out of it cuts per-pair work ~3x
    # (same values bit-for-bit: the oracle's norms CTE is per-vector
    # too)
    mem = assign.join(tagged.select("vec_id", "embedding", "nrm"), on="vec_id")
    # within-cluster pairs via the bucket self-pair kernel: per-task
    # pair output bounded by chunk_target² even when assignment piles
    # into a few dense clusters
    from ..operators.dedup import bucket_pairs, replicated_volume_guard

    # Pre-flight disk gate (round 13) with the CHUNK-SPLIT cost model:
    # the pair stream here is generated in-task and streamed straight
    # into the cos >= tau keep before any exchange (only the few
    # survivors reach the dup groupBy), so — exactly as for simhash —
    # the disk consumer is the REPLICATED chunk-join input, each row
    # carrying a 64-float embedding payload (~320 B vs the guard's
    # REPL_GUARD_BYTES_PER_ROW = 13 compressed default). Worst case
    # (every vector assigned to ONE cluster)
    # is free from the count the sizing already did: n·(ceil(n/256)+1)
    # rows — at the driver SFs and sf0.1 that fits any real budget, so
    # the probe is skipped and the gates/bench pay nothing; on a
    # degenerate assignment at corpus scale the guard fails fast with
    # the measured projection. When the probe DOES execute (worst-case
    # hint missed the budget) it pins the linear mem frame, so probe
    # and real run share one quantizer/assignment computation.
    mem, max_bucket = replicated_volume_guard(
        mem,
        ["cent_id"],
        "vec_id",
        chunk_target=256,
        bytes_per_row=320,
        worst_case_rows=n * (-(-n // 256) + 1),
    )
    pairs = bucket_pairs(
        mem,
        ["cent_id"],
        "vec_id",
        ["embedding", "nrm"],
        # symmetric: dot and the norm product commute exactly
        keep=lambda x, y: F.round(
            dot(x("embedding"), y("embedding")) / (x("nrm") * y("nrm")), 6
        ) >= F.lit(_SEMDEDUP_TAU),
        max_bucket=max_bucket,
        chunk_target=256,
    )
    dup = (
        pairs.groupBy(F.col("b_id").alias("vec_id"))
        .agg(F.min("a_id").alias("dup_of"))
    )
    return assign.join(dup, on="vec_id", how="left").select(
        "vec_id", "cent_id", "dup_of", F.col("dup_of").isNull().alias("kept")
    )


# Incremental twin: the quantizer (stride centroids + assignment
# planes) is SIZED FROM THE STORED CORPUS — the persisted state a
# production ingest probes — and only incoming vectors are scored.
_INCR_SEMDEDUP_ORACLE = (
    "WITH "
    + _NORMS_CTE
    + """
, stored AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 != 0),
inc AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0),
params AS """
    + stride_centroid_params_sql("stored")
    + f"""
, nb AS (SELECT {sem_assign_bits_sql("stored")} AS bits FROM stored),
planes AS (
  SELECT bit, list_transform(generate_series(1, 64),
           j -> {plane_weight_sql(211, 'bit', 'j - 1')}) AS w
  FROM (SELECT unnest(generate_series(0, (SELECT bits FROM nb) - 1)) AS bit)
), buck AS (
  SELECT e.vec_id,
         string_agg(CASE WHEN list_sum(list_transform(generate_series(1, 64),
             i -> CAST(e.embedding[i] AS DOUBLE) * p.w[i])) >= 0
             THEN '1' ELSE '0' END, '' ORDER BY p.bit) AS bk
  FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id
), cent AS (
  SELECT b.vec_id AS cent_id, b.bk, e.embedding AS ce
  FROM buck b JOIN stored e USING (vec_id), params
  WHERE b.vec_id % stride = off
), cand_s AS (
  SELECT v.vec_id, c.cent_id,
         ROUND(list_sum(list_transform(generate_series(1, 64),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
               / (nv.nrm * nc.nrm), 6) AS cos
  FROM buck v
  JOIN stored e ON e.vec_id = v.vec_id
  JOIN cent c ON c.bk = v.bk
  JOIN norms nv ON nv.vec_id = v.vec_id
  JOIN norms nc ON nc.vec_id = c.cent_id
), assign_s AS (
  SELECT e.vec_id, COALESCE(b.cent_id, e.vec_id) AS cent_id
  FROM stored e LEFT JOIN (
    SELECT vec_id, cent_id FROM (
      SELECT vec_id, cent_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id ASC) AS rn
      FROM cand_s) WHERE rn = 1) b ON b.vec_id = e.vec_id
), cand_i AS (
  SELECT v.vec_id, c.cent_id,
         ROUND(list_sum(list_transform(generate_series(1, 64),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
               / (nv.nrm * nc.nrm), 6) AS cos
  FROM buck v
  JOIN inc e ON e.vec_id = v.vec_id
  JOIN cent c ON c.bk = v.bk
  JOIN norms nv ON nv.vec_id = v.vec_id
  JOIN norms nc ON nc.vec_id = c.cent_id
), assign_i AS (
  SELECT e.vec_id, COALESCE(b.cent_id, e.vec_id) AS cent_id
  FROM inc e LEFT JOIN (
    SELECT vec_id, cent_id FROM (
      SELECT vec_id, cent_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cent_id ASC) AS rn
      FROM cand_i) WHERE rn = 1) b ON b.vec_id = e.vec_id
), mem_s AS (
  SELECT a.vec_id, a.cent_id, v.embedding AS ve
  FROM assign_s a JOIN stored v ON v.vec_id = a.vec_id
), probe AS (
  SELECT i.vec_id, s.vec_id AS s_id,
         ROUND(list_sum(list_transform(generate_series(1, 64),
                 i2 -> CAST(e.embedding[i2] AS DOUBLE) * CAST(s.ve[i2] AS DOUBLE)))
               / (ni.nrm * ns.nrm), 6) AS cos
  FROM assign_i i
  JOIN inc e ON e.vec_id = i.vec_id
  JOIN mem_s s ON s.cent_id = i.cent_id
  JOIN norms ni ON ni.vec_id = i.vec_id
  JOIN norms ns ON ns.vec_id = s.vec_id
), dup AS (
  SELECT vec_id, MIN(s_id) AS dup_of
  FROM probe WHERE cos >= {_SEMDEDUP_TAU} GROUP BY vec_id
)
SELECT i.vec_id, i.cent_id, d.dup_of, d.dup_of IS NULL AS kept
FROM assign_i i LEFT JOIN dup d ON d.vec_id = i.vec_id
"""
)


@register(
    "incremental_semantic_dedup",
    _INCR_SEMDEDUP_ORACLE,
    doc="Incremental semantic dedup probe — the embedding-side "
    "complement of incremental_lsh_candidates: the STORED corpus "
    "(mod-4 split) carries the persisted quantizer (stride centroids "
    "+ assignment planes sized from ITS count) and its cluster "
    "assignments; an INCOMING batch is bucket-assigned against the "
    "same centroids and each new vector is compared ONLY to the "
    "stored members of its cluster — cosine >= tau flags it a "
    "semantic dup of the min-id stored member. Per-ingest cost is "
    "|batch| x cluster-size dots, never |batch| x |corpus|; "
    "everything is the shared bucket_pruned_assign operator plus one "
    "cluster-keyed probe join, and every sizing formula is computed "
    "from COUNT(*) identically in both engines (full hash gate).",
)
def incremental_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        bucket_key_col,
        bucket_pruned_assign,
        derive_planes,
        dot,
        l2_norm,
        sem_assign_bits,
        stride_centroid_params,
    )

    par = spark.sparkContext.defaultParallelism
    base = load_table(spark, sf_dir, "embeddings")
    emb = base.repartition(par)
    stored_ids = F.col("vec_id") % 4 != 0
    # sizing count on the BARE scan (footer-metadata count) —
    # counting the repartitioned frame would pay its exchange
    n_stored = base.filter(stored_ids).count()
    stride, off = stride_centroid_params(n_stored)
    planes = derive_planes(seed=211, n_bits=sem_assign_bits(n_stored), dims=64)
    # pinned for the same reason as semantic_dedup_flags' tagged (r15
    # opt): tag_s/tag_i/cents and both assignment probes all re-embed
    # the bucket/norm fold subtree otherwise
    tagged = emb.select(
        "vec_id",
        "embedding",
        l2_norm(F.col("embedding")).alias("nrm"),
        bucket_key_col(F.col("embedding"), planes).alias("bk"),
    ).localCheckpoint(eager=True)
    tag_s = tagged.filter(stored_ids)
    tag_i = tagged.filter(~stored_ids)
    cents = tag_s.filter(F.col("vec_id") % stride == off).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cnrm"),
        "bk",
    )

    def assigned(tag: DataFrame) -> DataFrame:
        best = bucket_pruned_assign(tag, cents)
        return (
            tag.select("vec_id")
            .join(best, on="vec_id", how="left")
            .select("vec_id", F.coalesce("cent_id", "vec_id").alias("cent_id"))
        )

    mem_s = assigned(tag_s).join(
        tag_s.select("vec_id", F.col("embedding").alias("se"), F.col("nrm").alias("sn")),
        on="vec_id",
    ).select(F.col("vec_id").alias("s_id"), "cent_id", "se", "sn")
    # narrow (two ids/row), consumed by the probe join AND the final
    # dup join — pin so the incoming-side assignment runs once
    assign_i = assigned(tag_i).localCheckpoint(eager=True)
    # Volume-guard adjudication (round 13): structurally bounded, no
    # guard needed — this is a batch-vs-stored equi-join on cent_id, so
    # the SHUFFLE carries each side exactly once (linear in |batch| +
    # |stored|); the per-cluster cross products are generated in-task
    # post-join and stream into the cos >= tau filter before any
    # exchange, so no quadratic object ever hits disk. (CPU per task is
    # |inc_c|·|stored_c| dots, bounded by the stride quantizer's ~64-
    # member clusters; a degenerate single-cluster assignment bounds at
    # |batch|·|stored| work but still linear shuffle bytes.)
    probe = (
        assign_i.join(
            tag_i.select("vec_id", "embedding", "nrm"), on="vec_id"
        )
        .join(mem_s, on="cent_id")
        .select(
            "vec_id",
            "s_id",
            F.round(
                dot(F.col("embedding"), F.col("se")) / (F.col("nrm") * F.col("sn")), 6
            ).alias("cos"),
        )
    )
    dup = (
        probe.filter(F.col("cos") >= F.lit(_SEMDEDUP_TAU))
        .groupBy("vec_id")
        .agg(F.min("s_id").alias("dup_of"))
    )
    return assign_i.join(dup, on="vec_id", how="left").select(
        "vec_id", "cent_id", "dup_of", F.col("dup_of").isNull().alias("kept")
    )


# ---------------------------------------------------------------------------
# Fixed-iteration Lloyd k-means: the learned-centroid complement of the
# fixed coarse quantizer — unrolled CTE chain as the SQL twin.
# ---------------------------------------------------------------------------


def _kmeans_chain(n_iter: int, dim: int = 64) -> str:
    sq = (
        "(CAST(v.embedding[i] AS DOUBLE) - c.ce[i])"
        " * (CAST(v.embedding[i] AS DOUBLE) - c.ce[i])"
    )
    parts = [
        f"""
WITH c0 AS (
  SELECT vec_id AS cent_id,
         list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE), 6)) AS ce
  FROM embeddings WHERE vec_id IN ({_CENTROID_SQL})
)"""
    ]
    for t in range(1, n_iter + 1):
        parts.append(f"""
, s{t} AS (
  SELECT v.vec_id, c.cent_id,
         ROUND(list_sum(list_transform(generate_series(1, {dim}),
               i -> {sq})), 6) AS d2
  FROM embeddings v CROSS JOIN c{t - 1} c
), a{t} AS (
  SELECT vec_id, cent_id AS cluster, d2 FROM (
    SELECT vec_id, cent_id, d2,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2 ASC, cent_id ASC) AS rn
    FROM s{t}) WHERE rn = 1
)""")
        if t < n_iter:
            parts.append(f"""
, c{t} AS (
  SELECT cluster AS cent_id, list(m ORDER BY i) AS ce FROM (
    SELECT a.cluster, ge.i,
           ROUND(AVG(CAST(v.embedding[ge.i] AS DOUBLE)), 6) AS m
    FROM a{t} a JOIN embeddings v ON v.vec_id = a.vec_id,
         unnest(generate_series(1, {dim})) AS ge(i)
    GROUP BY a.cluster, ge.i) GROUP BY cluster
)""")
    return "".join(parts)


def _kmeans_oracle(n_iter: int, dim: int = 64) -> str:
    return _kmeans_chain(n_iter, dim) + f"\nSELECT vec_id, cluster, d2 FROM a{n_iter}"


@register(
    "kmeans_3iter",
    _kmeans_oracle(3),
    doc="Fixed-iteration Lloyd k-means over the embedding corpus "
    "(operators/similarity.kmeans_fixed) — centroids LEARNED from the "
    "data, i.e. the index-build step a production IVF runs before "
    "ivf_ann_topk serves queries. Per iteration the k×dim centroid "
    "table broadcasts and assignment is a map-side min_by reduce "
    "(shuffle = one pre-reduced row per vector); the update shuffles "
    "only k×dim avg partials; localCheckpoint truncates lineage per "
    "step like PageRank/BFS. Distances and centroid components are "
    "rounded each step so partial-agg order can never flip an "
    "assignment cross-engine; the oracle is the same three steps "
    "unrolled as CTEs.",
)
def kmeans_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import kmeans_fixed

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_fixed(emb, _CENTROID_IDS, n_iter=3)


_IVF_LEARNED_ORACLE = (
    _kmeans_chain(3)
    + """
, kn AS (
  SELECT vec_id, sqrt(SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS nrm
  FROM (SELECT vec_id, unnest(embedding) AS v FROM embeddings) GROUP BY vec_id
), kv AS (SELECT vec_id, embedding AS ve FROM embeddings),
klists AS (
  SELECT vec_id AS c_id, cluster FROM a3 WHERE vec_id >= 10
), kprobes AS (
  SELECT vec_id AS q_id, cent_id AS cluster FROM (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2 ASC, cent_id ASC) AS rn
    FROM s3 WHERE vec_id < 10) WHERE rn <= 2
), kcand AS (
  SELECT p.q_id, l.c_id FROM kprobes p JOIN klists l ON l.cluster = p.cluster
), kscored AS (
  SELECT k.q_id, k.c_id,
         ROUND(list_sum(list_transform(generate_series(1, 64),
                 i -> CAST(q.ve[i] AS DOUBLE) * CAST(c.ve[i] AS DOUBLE)))
               / (nq.nrm * nc.nrm), 6) AS cosine
  FROM kcand k
  JOIN kv q ON q.vec_id = k.q_id
  JOIN kv c ON c.vec_id = k.c_id
  JOIN kn nq ON nq.vec_id = k.q_id
  JOIN kn nc ON nc.vec_id = k.c_id
)
SELECT q_id, c_id, cosine, rnk FROM (
  SELECT q_id, c_id, cosine,
         CAST(row_number() OVER (PARTITION BY q_id
                                 ORDER BY cosine DESC, c_id ASC) AS INT) AS rnk
  FROM kscored) WHERE rnk <= 3
"""
)


@register(
    "ivf_learned_topk",
    _IVF_LEARNED_ORACLE,
    doc="Similarity search over a LEARNED quantizer — the full IVF "
    "index-build-then-serve path: kmeans_3iter's Lloyd centroids "
    "replace ivf_ann_topk's fixed seed vectors, the corpus is listed "
    "by its final k-means assignment, queries probe their 2 nearest "
    "learned centroids, and exact cosine reranks only the probed "
    "lists. Learned centroids track the data distribution, so list "
    "populations are balanced where fixed seeds would skew — the "
    "property that keeps probe cost flat on a drifting 100 TB corpus. "
    "Same plan skeleton as ivf_ann_topk (broadcast centroids, "
    "map-side assignment, shuffle on list id).",
)
def ivf_learned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import kmeans_fixed

    emb = load_table(spark, sf_dir, "embeddings")
    # the index build runs the full distributed Lloyd loop; only the
    # FINAL k-row quantizer is collected (bounded), and serve-side
    # assignment is recomputed map-side from those baked centroids —
    # kmeans_fixed's returned assignment was computed against exactly
    # these centroids with the same rounded-d2 min-(d2, cent_id)
    # rule, so the map-side recompute is bit-identical to it while
    # keeping the corpus embedding column out of every serve shuffle
    # (same audit finding as ivf_ann_topk)
    _, cent_rows = kmeans_fixed(
        emb, _CENTROID_IDS, n_iter=3, with_centroids=True
    )
    from ..operators.similarity import baked_centroid_scores

    scores = baked_centroid_scores("embedding", cent_rows, "sqdist")
    lists = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("ce"),
        F.array_min(scores)["t"].alias("cluster"),
    )
    probes = (
        emb.filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("qe"),
            F.explode(F.slice(F.sort_array(scores), 1, 2)).alias("p"),
        )
        .select("q_id", "qe", F.col("p")["t"].alias("cluster"))
    )
    return bucket_topk(probes, lists, k=3, on=("cluster",))
