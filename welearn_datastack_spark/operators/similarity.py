"""Vector similarity operators over `array<float>` embedding columns.

The reference stores slice embeddings as raw float32 bytes and serves
cosine search from Qdrant (modules/qdrant_handler.py:114–138; vectors
are L2-normalized at embed time, embedding_model_helpers.py:58–64; the
load-test workload is top-100 search and grouped-by-document search,
locustfiles/locustfile.py:58–97). Here both shapes are one
candidate→verify kernel, :func:`bucket_topk`:

- candidates: the bounded probe side (|Q| queries, or |Q|·n_probe
  rows) broadcasts onto the corpus. With bucket keys (an IVF list id,
  a learned cluster, an LSH sign-bucket) the candidates are the
  bucket-local equi-join, so the cross product shrinks from |Q|·|C|
  to the probed buckets; with no keys they are the full cross
  product — the exact brute-force baseline every ANN path is
  recall-measured against. Either way the corpus embedding column is
  map-scanned only, never shuffled.
- verify: exact cosine, rounded to 6 digits for cross-engine
  determinism, then the per-query top-k window over the narrow
  (q_id, c_id, cosine) rows — optionally after a best-hit-per-group
  window (Qdrant grouped search, group_size 1).

The index builds that produce the bucket keys (baked-literal
quantizers, :func:`kmeans_fixed`, sign-plane tagging) live here too;
:func:`blas_topk` is the Arrow/numpy alternate of the brute-force
case, and :func:`cosine_pairs` the unranked all-pairs scores.

All kernel arithmetic is JVM-side (zip_with/aggregate higher-order
functions) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.tables import empty_frame
from .topk import top_k_by


def _d(c: Column) -> Column:
    return c.cast("double")


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product of two float arrays (cast to
    double per element so precision matches an ANSI-SQL oracle)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: _d(x) * _d(y)), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: _d(x) * _d(x)), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _score() -> Column:
    """The verify step: exact cosine of a candidate's (qe, ce), rounded
    for cross-engine determinism."""
    return F.round(cosine(F.col("qe"), F.col("ce")), 6).alias("cosine")


def cosine_pairs(probes: DataFrame, corpus: DataFrame) -> DataFrame:
    """All (q_id, c_id, cosine) scores of ``probes`` (q_id, qe) against
    ``corpus`` (c_id, ce); the probe side broadcasts."""
    return F.broadcast(probes).crossJoin(corpus).select("q_id", "c_id", _score())


def bucket_topk(
    probes: DataFrame,
    corpus: DataFrame,
    k: int,
    on: tuple[str, ...] = (),
    group_col: str | None = None,
) -> DataFrame:
    """Top ``k`` corpus rows per query by exact cosine — the Qdrant
    ``search(limit=k)`` shape — over the candidates that share the
    ``on`` bucket keys (all of them when ``on`` is empty).

    ``probes`` is (q_id, qe, *on) and always broadcasts: it is the
    bounded side. ``corpus`` is (c_id, ce, *on[, group_col]). Returns
    (q_id, c_id, cosine, rnk) ordered by (cosine desc, c_id asc).

    With ``group_col`` (Qdrant grouped search: group_by document,
    group_size 1; locustfile.py:82–87) the best hit per (q_id, group)
    is kept first, by the same order, and the top ``k`` groups per
    query are returned as (q_id, c_id, group_col, cosine, rnk) ordered
    by (cosine desc, group asc). The group column rides through the
    scoring join, so no second pass over the corpus joins it back."""
    cand = (
        corpus.join(F.broadcast(probes), on=list(on))
        if on
        else F.broadcast(probes).crossJoin(corpus)
    )
    if group_col is None:
        scored = cand.select("q_id", "c_id", _score())
        return top_k_by(scored, ["q_id"], [F.desc("cosine"), F.asc("c_id")], k=k)
    scored = cand.select("q_id", "c_id", group_col, _score())
    best = top_k_by(
        scored, ["q_id", group_col], [F.desc("cosine"), F.asc("c_id")], k=1, rank_col="__r1"
    ).drop("__r1")
    return top_k_by(best, ["q_id"], [F.desc("cosine"), F.asc(group_col)], k=k)


# corpus-scaled LSH sizing: the plane count grows with the corpus so
# the EXPECTED bucket size stays ~_LSH_TARGET_BUCKET and intra-bucket
# pair work stays constant while bucket count (= join parallelism)
# scales — the knob that keeps hyperplane-LSH dedup linear at 100 TB.
# Shared literals: the SQL twin below computes the identical value
# from COUNT(*), so Spark and the oracle always agree on the bucket
# geometry. Bounds: >= 4 keeps the tiny-corpus demo non-degenerate;
# <= 32 caps map-side projection cost (32x64 mul-adds/vector) at a
# bucket count (4G) beyond any realistic corpus.
_LSH_BITS_LO = 4
_LSH_BITS_HI = 32
_LSH_TARGET_BUCKET = 8


def scaled_n_bits(n: int) -> int:
    """Plane count for a corpus of ``n`` vectors:
    clamp(ceil(log2(n / target_bucket)), lo, hi). Exact powers of two
    are fp-exact in both engines; non-powers land strictly between
    integers, so the ceil never straddles a cross-engine ulp."""
    import math

    raw = math.ceil(math.log2(max(n, 1) / float(_LSH_TARGET_BUCKET)))
    return max(_LSH_BITS_LO, min(_LSH_BITS_HI, raw))


def scaled_n_bits_sql(n_expr: str) -> str:
    """ANSI-SQL twin of :func:`scaled_n_bits` over a count expression."""
    return (
        f"GREATEST({_LSH_BITS_LO}, LEAST({_LSH_BITS_HI}, "
        f"CAST(ceil(log2(GREATEST({n_expr}, 1) / {_LSH_TARGET_BUCKET}.0)) AS INT)))"
    )


def plane_weight_sql(seed: int, bit_expr: str, j0_expr: str) -> str:
    """DuckDB twin of one :func:`derive_planes` weight: ±1 by the
    parity of int(md5(f"{seed}:{bit}:{j}")[:8], 16) — the parity of a
    32-bit hex prefix is the parity of its LAST (8th) hex char, which
    SQL reads directly. ``j0_expr`` is the 0-based dimension index."""
    md5_arg = f"'{seed}:' || CAST({bit_expr} AS VARCHAR) || ':' || CAST({j0_expr} AS VARCHAR)"
    return (
        f"CASE WHEN (strpos('0123456789abcdef', substr(md5({md5_arg}), 8, 1)) - 1) % 2 = 0"
        " THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END"
    )


# corpus-scaled coarse-quantizer sizing (SemDeDup / IVF): centroid
# count k ~ n/target so EXPECTED cluster membership — and the
# |cluster|² pair work inside each cluster — stays constant while the
# number of clusters (= shuffle keys = parallelism) grows with the
# corpus. Centroids are picked by a deterministic id stride so the
# SQL oracle selects the identical set from COUNT(*) alone.
_SEM_TARGET_CLUSTER = 64
_SEM_MIN_K = 8


def stride_centroid_params(n: int) -> tuple[int, int]:
    """(stride, offset) such that ``vec_id % stride == offset`` picks
    ~max(8, n/64) spread-out centroids from a dense id range."""
    import math

    k = max(_SEM_MIN_K, math.ceil(max(n, 1) / float(_SEM_TARGET_CLUSTER)))
    stride = max(1, n // k)
    return stride, stride // 2


def stride_centroid_params_sql(table: str) -> str:
    """DuckDB twin of :func:`stride_centroid_params` as a ``params``
    CTE body computing (stride, off) from ``COUNT(*)``."""
    return f"""(
  SELECT GREATEST(1, n // k) AS stride, GREATEST(1, n // k) // 2 AS off
  FROM (SELECT GREATEST(COUNT(*), 1) AS n,
               GREATEST({_SEM_MIN_K},
                        CAST(ceil(COUNT(*) / {_SEM_TARGET_CLUSTER}.0) AS BIGINT)) AS k
        FROM {table})
)"""


# bucket-pruned centroid assignment: with k ~ n/target centroids,
# brute-force nearest-centroid assignment is n·k ≈ n²/target dots —
# quadratic again, just moved one stage up (measured: 102 of 116 s at
# sf1). Instead both vectors and centroids get a coarse sign-bucket
# (~_ASSIGN_BUCKET_CENTROIDS centroids per bucket) and each vector
# scores ONLY the centroids sharing its bucket — the same pruning an
# IVF probe applies, made deterministic (md5-parity planes) so the
# SQL oracle computes the identical candidate sets. Assignment cost
# drops to ~n·target-constant dots; a vector whose bucket holds no
# centroid becomes its own singleton cluster (deterministic,
# dedup-safe: singletons simply produce no pairs).
_ASSIGN_BUCKET_CENTROIDS = 4
_ASSIGN_PLANE_SEED = 211


def sem_assign_bits(n: int) -> int:
    """Sign-bucket bit count for assignment pruning: enough planes
    that an average bucket holds ~4 centroids of the k ~ n/64."""
    import math

    k = max(_SEM_MIN_K, math.ceil(max(n, 1) / float(_SEM_TARGET_CLUSTER)))
    return max(0, math.floor(math.log2(k / float(_ASSIGN_BUCKET_CENTROIDS))))


def sem_assign_bits_sql(table: str) -> str:
    """ANSI-SQL twin of :func:`sem_assign_bits` over ``COUNT(*)``."""
    return (
        f"GREATEST(0, CAST(floor(log2(GREATEST({_SEM_MIN_K}, "
        f"CAST(ceil(GREATEST(COUNT(*), 1) / {_SEM_TARGET_CLUSTER}.0) AS BIGINT))"
        f" / {_ASSIGN_BUCKET_CENTROIDS}.0)) AS INT))"
    )


def bucket_pruned_assign(tagged: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment pruned to the vector's sign-bucket
    (see the `_ASSIGN_*` notes above): ``tagged`` carries
    (vec_id, embedding, nrm, bk), ``cents`` (cent_id, ce, cnrm, bk).
    Centroids broadcast; the arg-max is map-side-combinable (max_by
    under partial agg → the shuffle carries one pre-reduced row per
    vector). Returns (vec_id, cent_id) for vectors with at least one
    in-bucket centroid — callers COALESCE to self-assignment for the
    rest. Ties: highest cosine, then lowest cent_id (the SQL twin's
    row_number ORDER BY cos DESC, cent_id ASC)."""
    cand = tagged.join(F.broadcast(cents), on="bk").select(
        "vec_id",
        "cent_id",
        F.round(
            dot(F.col("embedding"), F.col("ce")) / (F.col("nrm") * F.col("cnrm")), 6
        ).alias("cos"),
    )
    return cand.groupBy("vec_id").agg(
        F.max_by("cent_id", F.struct(F.col("cos"), (-F.col("cent_id")).alias("nc"))).alias(
            "cent_id"
        )
    )


def derive_planes(seed: int, n_bits: int, dims: int) -> list[list[float]]:
    """Deterministic ±1 random hyperplanes from md5 parity — the ONE
    place the plane formula lives. Spark builders inline the result as
    literal arrays; ANSI-SQL oracles inline the same literals, so both
    engines share bit-identical buckets by construction."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}:{bit}:{j}".encode()).hexdigest()[:8], 16) % 2 == 0
            else -1.0
            for j in range(dims)
        ]
        for bit in range(n_bits)
    ]


def bucket_key_col(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-bucket key: one character per plane, '1' when the
    projection onto the plane is ≥ 0."""
    signs = []
    for p in planes:
        # single array literal per plane (not dims CreateArray children)
        # — same planning-cost collapse as baked_centroid_scores
        const = F.lit([float(x) for x in p])
        proj = F.aggregate(
            F.zip_with(vec_col, const, lambda x, c: x.cast("double") * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        signs.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*signs)


def sq8_dequantize(vec: Column) -> Column:
    """Scalar-quantization round trip: per-vector (min, max) range,
    256 levels, code = floor((v - min)/step), value ≈ min + code·step.

    This is the SQ8 memory-bandwidth path every large ANN deployment
    runs (4× smaller vectors → 4× more corpus per executor page);
    expressing it as the DEQUANTIZED values keeps the whole scoring
    pipeline in the same JVM higher-order-function kernel as the
    exact path, and makes the approximation deterministic and
    oracle-checkable (floor, not round — round() half-way behavior
    differs across engines). Constant vectors (max == min) dequantize
    to the constant."""
    vmin = F.array_min(vec).cast("double")
    vmax = F.array_max(vec).cast("double")
    step = (vmax - vmin) / F.lit(255.0)
    return F.transform(
        vec,
        lambda x: F.when(
            vmax > vmin, vmin + F.floor((x.cast("double") - vmin) / step) * step
        ).otherwise(vmin),
    )


# Ceiling for blas_topk's driver-side query collect: 64k rows of a
# 384-dim float64 matrix is ~200 MB shipped to every task — already
# generous; anything larger is an unbounded table in the wrong
# operator, not a big query batch.
BLAS_MAX_QUERY_ROWS = 65_536


def blas_topk(probes: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """Arrow/BLAS alternate of :func:`bucket_topk` with no bucket keys
    (same input contract: ``probes`` (q_id, qe), ``corpus`` (c_id, ce);
    same (q_id, c_id, cosine, rnk) output): the query matrix ships to
    every task (same rows the JVM path broadcasts — |Q| is the small
    side by construction), each corpus Arrow batch scores as ONE numpy
    matmul (B×d @ d×Q), and only the per-batch top-k survives, so the
    final shuffle is |partitions|·|Q|·k rows — identical shuffle shape
    to the JVM path's |Q|·k window input.

    Same semantics as the zip_with/aggregate kernel up to float
    summation order (numpy uses pairwise summation; the JVM fold is
    sequential), which is why this variant is equivalence-tested
    under a tolerance instead of the exact-hash oracle. Use it when
    measured matmul throughput beats the JVM kernel at the deployed
    dim×batch shape (SCALE.md §6); the plan shape at 100 TB is
    unchanged — a narrow map over the corpus plus one tiny top-k
    exchange."""
    import numpy as np
    import pandas as pd

    schema = "q_id long, c_id long, cosine double"
    # null query embeddings can't score — drop them up front (the JVM
    # kernel's null cosine ranks last and never survives top-k).
    # STRUCTURAL GUARD on the collect: |Q| is the small side by
    # construction, but nothing upstream enforces it — limit the fetch
    # to the ceiling + 1 and fail loudly past it, instead of silently
    # pulling an unbounded query table onto the driver and shipping it
    # to every task (the blas twin of state_log._bounded_row_guard).
    q_rows = (
        probes.filter(F.col("qe").isNotNull())
        .select("q_id", "qe")
        .limit(BLAS_MAX_QUERY_ROWS + 1)
        .collect()
    )
    if len(q_rows) > BLAS_MAX_QUERY_ROWS:
        raise ValueError(
            f"blas_topk: query side exceeds {BLAS_MAX_QUERY_ROWS} rows — it is "
            "collected to the driver and shipped to every task, so an unbounded "
            "query table must use a distributed path (bucket_topk) instead"
        )
    order = [F.desc("cosine"), F.asc("c_id")]
    if not q_rows:
        # 0 queries → 0 result rows; np.array([]) would be 1-D and
        # crash norm(axis=1), so rank an empty candidate frame instead
        # (same output schema as the scored path, rnk included)
        return top_k_by(empty_frame(probes.sparkSession, schema), ["q_id"], order, k=k)
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(qm, axis=1)

    def run(batches):
        for pdf in batches:
            pdf = pdf[pdf["ce"].notna()]
            if not len(pdf):
                continue
            cm = np.array([list(v) for v in pdf["ce"]], dtype=np.float64)
            cn = np.linalg.norm(cm, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                scores = (cm @ qm.T) / (cn[:, None] * qn[None, :])
            # a zero-norm vector divides to NaN/inf here while the JVM
            # kernel yields NULL; mask to -inf so such rows rank last
            # (as NULLS LAST does in the JVM path's F.desc) and can
            # never displace a real score from the per-batch top-k
            scores = np.where(np.isfinite(scores), scores, -np.inf)
            top = min(k, len(pdf))
            idx = np.argpartition(-scores, kth=top - 1, axis=0)[:top]  # top×Q
            cids = pdf["c_id"].to_numpy(dtype=np.int64)
            n_q = len(q_ids)
            picked = scores[idx.T.ravel(), np.repeat(np.arange(n_q), top)]
            out = pd.DataFrame(
                {
                    "q_id": np.repeat(q_ids, top),
                    "c_id": cids[idx.T.ravel()],
                    "cosine": np.round(picked, 6),
                }
            )
            # surface the masked sentinels as NULL, matching the JVM
            # kernel's value for an unscorable pair
            out.loc[~np.isfinite(picked), "cosine"] = None
            yield out

    cand = corpus.select("c_id", "ce").mapInPandas(run, schema=schema)
    return top_k_by(cand, ["q_id"], order, k=k)


_SIMPLE_DOUBLE = __import__("re").compile(r"^-?\d+\.\d+$")


def _sql_double(v: float) -> str:
    """Exact SQL rendering of a Python float (IEEE double): plain
    decimals as a ``D``-suffixed literal; anything else (exponent
    notation, inf/nan) through a string cast, which round-trips via
    Double.parseDouble exactly like ``repr`` does."""
    r = repr(float(v))
    if _SIMPLE_DOUBLE.match(r):
        return r + "D"
    return f"CAST('{r}' AS DOUBLE)"


def baked_centroid_scores(vec_col, cent_rows, kind, round_digits=6, norm_col=None):
    """Per-centroid (score, tie) structs with the k centroid vectors
    baked as LITERALS — the quantizer is bounded (k rows, a justified
    driver collect), so corpus-side assignment and query-side probe
    ranking become pure map expressions over the scan: the corpus
    embedding column is never shuffled for quantizer assignment.
    ``kind`` 'cosine' yields structs whose ``array_max`` is (best
    cos, tie → smallest cent_id via negated tie field); 'sqdist'
    yields structs whose ``array_min`` is (smallest d2, tie →
    smallest cent_id). Tie fields are longs so a surfaced cluster id
    keeps the id column's type.

    ``vec_col`` / ``norm_col`` are SQL fragments (strings): the
    expression is assembled as ONE SQL text and parsed in a single
    py4j round trip — building the same k·dim tree through the Column
    DSL cost ~3,700 py4j calls per invocation (~0.9 s of pure driver
    chatter measured at k=8, dim=64; r15 opt), which dominated every
    iterative builder that re-bakes centroids per round.

    For the cosine kind, pass ``norm_col`` — the name of a
    pre-projected ``l2_norm(vec_col)`` column — so the row's norm
    folds once instead of once per centroid; each CENTROID's norm is
    a driver constant computed with the same sequential left-fold +
    sqrt the Spark expression uses (Python float IS an IEEE double), so the
    scores are bit-identical to ``cosine(vec_col, lit)``."""
    import math

    if kind == "cosine":
        norm_sql = norm_col or (
            f"sqrt(aggregate(transform({vec_col}, x -> CAST(x AS DOUBLE) * "
            f"CAST(x AS DOUBLE)), 0.0D, (acc, x) -> acc + x))"
        )
    structs_sql = []
    for cid, vec in sorted(cent_rows):
        arr = "array(" + ",".join(_sql_double(x) for x in vec) + ")"
        if kind == "cosine":
            lit_norm = math.sqrt(sum(float(x) * float(x) for x in vec))
            s = (
                f"round(aggregate(zip_with({vec_col}, {arr}, (x, y) -> "
                f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
                f"(acc, x) -> acc + x) / ({norm_sql} * {_sql_double(lit_norm)}), "
                f"{round_digits})"
            )
            t = f"CAST({-int(cid)} AS BIGINT)"
        else:
            s = (
                f"round(aggregate(zip_with({vec_col}, {arr}, (x, y) -> "
                f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
                f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), 0.0D, "
                f"(acc, x) -> acc + x), {round_digits})"
            )
            t = f"CAST({int(cid)} AS BIGINT)"
        structs_sql.append(f"struct({s} AS s, {t} AS t)")
    return F.expr("array(" + ",".join(structs_sql) + ")")


def kmeans_fixed(
    vectors: DataFrame,
    init_ids: tuple,
    n_iter: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    with_centroids: bool = False,
) -> DataFrame:
    """Fixed-iteration Lloyd k-means over an embedding column — the
    iterative-numeric clustering complement of the fixed coarse
    quantizer (centroids LEARNED from the data instead of picked),
    and the index-build step a production IVF would run.

    Per iteration: (1) assignment — the quantizer is BOUNDED (k rows
    of dim doubles), so the current centroids are held as baked
    literals and every vector's argmin is a pure map expression over
    the scan (:func:`baked_centroid_scores`): the embedding column is
    never shuffled, in any iteration; (2) update — per-dimension
    ``avg`` grouped by the (map-computed) cluster id, k·dim partial
    aggregates with map-side combine, so the one shuffle per
    iteration carries k×dim partials per task, independent of corpus
    size; the k-row result is collected (bounded, the same justified
    collect as the ivf_*_topk quantizers) to become the next
    iteration's literals — which also truncates lineage, so no
    checkpoint is needed. Round-8's shuffle-byte audit motivated this
    shape: the previous broadcast-join + min_by assignment shuffled
    one embedding-carrying row per vector per iteration (34 MB at
    sf3, growing linearly), where this plan's per-iteration shuffle
    is a few KiB at any corpus size. Distances and updated centroid
    components are rounded to ``round_digits`` each step so
    partial-aggregation order can never flip an assignment across
    engines or runs. Fixed iterations (not convergence-test) keep
    the result deterministic and oracle-checkable; production loops
    until centroid drift < ε with the same body. A cluster that
    loses every member drops out (no re-seeding), same as the SQL
    twin. Returns the FINAL assignment (id, cluster, d2); with
    ``with_centroids`` also the final centroids as (cent_id, ce) rows
    sorted by cent_id — the learned coarse quantizer an IVF index
    build feeds on, handed over as the driver-side row list the loop
    already holds.
    """
    assert n_iter >= 1, "n_iter must be >= 1"
    assert len(init_ids) >= 1, "init_ids must seed at least one centroid"
    vid = F.col(id_col)
    # seed rounding stays Spark-side (F.round is HALF_UP; Python's
    # round is HALF_EVEN — a driver-side round would silently diverge
    # from the SQL twin on .xxxxx5 components)
    cent_rows = [
        (r["cent_id"], list(r["ce"]))
        for r in vectors.filter(vid.isin(*init_ids))
        .select(
            vid.alias("cent_id"),
            F.transform(
                F.col(vec_col), lambda x: F.round(_d(x), round_digits)
            ).alias("ce"),
        )
        .collect()
    ]
    # seeds above collect straight off the scan (predicate pushdown);
    # the Lloyd iterations below are compute-dense per-row folds, so
    # the corpus must not inherit a single-split scan's parallelism
    # (fan_out_for_compute is a no-op on already-parallel layouts)
    from ..sources.tables import fan_out_for_compute

    vectors = fan_out_for_compute(vectors)
    assign = None
    for it in range(n_iter):
        # vec_col passed as a SQL fragment: one parsed expression per
        # iteration instead of thousands of py4j DSL calls (see
        # baked_centroid_scores)
        scores = baked_centroid_scores(vec_col, cent_rows, "sqdist", round_digits)
        best = F.array_min(scores)
        assign = vectors.select(
            vid,
            F.col(vec_col),
            best["t"].alias("cluster"),
            best["s"].alias("d2"),
        )
        if it < n_iter - 1:  # the final assignment IS the output — no
            # update after it (a C_n nothing reads)
            # update via posexplode → (cluster, pos) avg, NOT dim
            # per-dimension avg columns: the k·dim-column aggregate
            # plan (on top of the baked-scores projection) was the
            # single most expensive thing Catalyst planned per
            # iteration (r15 opt attribution), while the exploded
            # form's plan is a few nodes. Shuffle volume is the same
            # k·dim partial cells per map task (rows instead of
            # columns), the collect is the same bounded k·dim values,
            # and each (cluster, pos) accumulator sees the exact
            # per-partition row order the column form saw, so the
            # rounded means are unchanged.
            rows = (
                assign.select("cluster", F.posexplode(vec_col).alias("pos", "v"))
                .groupBy("cluster", "pos")
                .agg(F.round(F.avg("v"), round_digits).alias("m"))
                .collect()
            )
            by_c: dict = {}
            for r in rows:
                by_c.setdefault(r["cluster"], {})[r["pos"]] = r["m"]
            cent_rows = [(c, [d[i] for i in range(dim)]) for c, d in by_c.items()]
    out = assign.select(vid, "cluster", "d2")
    if not with_centroids:
        return out
    # the quantizer already lives on the driver as cent_rows (the
    # bounded k·dim collect IS the iteration mechanism) — hand the
    # rows straight to the index-build caller instead of round-
    # tripping them through createDataFrame + collect, which cost a
    # defaultParallelism-task no-op job per build (r15 opt)
    return (out, [(int(cid), list(vec)) for cid, vec in sorted(cent_rows)])
