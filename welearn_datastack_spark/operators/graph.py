"""Iterative graph traversal — the Wikipedia category crawl shape
(reference S6, collectors/wikipedia_collector.py:41–215: BFS over
categorymembers with a depth budget, frontier dedup via set()).

Spark-first: the frontier is a DataFrame; each level is one
equi-join + anti-join against the visited set. The loop lives on the
driver but every level's work is distributed — the classic iterative-
join pattern (GraphX-style without the dependency). At 100 TB the
edge table is pre-partitioned on ``src`` so every expansion joins
co-located; ``localCheckpoint`` after each level truncates the plan
lineage, which otherwise grows linearly with depth and would blow up
the optimizer past a few tens of levels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def bfs_min_depth(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Minimum-depth reachability from ``seeds`` within ``max_depth``
    hops. ``edges``: (src, dst); ``seeds``: (node). Returns
    (node, depth) where depth is the BFS level the node was first
    reached (seeds at 0)."""
    visited = seeds.select(F.col(node_col), F.lit(0).alias("depth"))
    frontier = visited
    for level in range(1, max_depth + 1):
        expanded = (
            frontier.join(edges, frontier[node_col] == edges[src])
            .select(F.col(dst).alias(node_col))
            # NULL destinations would be re-added every level (an
            # anti-join never matches NULL keys) — drop them up front
            .filter(F.col(node_col).isNotNull())
            .dropDuplicates([node_col])
        )
        fresh = expanded.join(visited.select(node_col), on=node_col, how="left_anti").select(
            F.col(node_col), F.lit(level).alias("depth")
        )
        # truncate lineage: each level otherwise embeds the whole
        # previous plan, and the optimizer cost grows with depth; the
        # frontier count rides the checkpoint job as an Observation so
        # the emptiness test costs no second action per level
        obs = Observation()
        fresh = fresh.observe(obs, F.count(F.lit(1)).alias("c")).localCheckpoint(
            eager=True
        )
        if obs.get["c"] == 0:
            break
        visited = visited.unionByName(fresh)
        frontier = fresh
    return visited


def connected_components_min_label(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 15,
) -> DataFrame:
    """Connected components by iterative min-label propagation:
    every node's label converges to the smallest node id in its
    component — the canonical way to turn near-duplicate PAIRS into
    duplicate CLUSTERS (keep min-id doc per cluster, drop the rest).

    Each iteration is one aggregate over the (symmetrized) edge list
    joined to current labels — shuffle on node id, O(diameter)
    rounds; near-dup clusters are shallow (diameter ≤ ~3), so this
    terminates in a handful of rounds. ``localCheckpoint`` truncates
    lineage per round. Returns (node, component).
    """
    sym = (
        edges.selectExpr(f"{src} AS a", f"{dst} AS b")
        .unionByName(edges.selectExpr(f"{dst} AS a", f"{src} AS b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .dropDuplicates(["a", "b"])
        # pin the edge list ONCE: every iteration joins sym, and the
        # caller's edges are often an expensive pipeline (the LSH
        # candidate generator) — without this each round re-runs
        # shingle→minhash→bands→pairs from the scan (measured ~3x
        # on dedup_canonical_pick at sf0.1)
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .dropDuplicates(["node"])
        .withColumn("component", F.col("node"))
    )
    for _ in range(max_iters):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, on="node", how="left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        stable = (
            new_labels.alias("n")
            .join(labels.alias("o"), on="node")
            .filter(F.col("n.component") != F.col("o.component"))
            .isEmpty()
        )
        labels = new_labels
        if stable:
            break
    return labels


def _union_find_min_labels(rows) -> dict:
    """Min-id component label per node over an edge list — the
    driver-side finisher for :func:`connected_components_star`'s
    small-remainder path. Path-halving union-find; O(E α(E))."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in rows:
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min so the root IS the component label
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return {x: find(x) for x in parent}


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 50,
    stats: dict | None = None,
    local_finish_edges: int = 65536,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., *Connected Components in MapReduce
    and Beyond*, SoCC'14) — the scale replacement for
    :func:`connected_components_min_label` on DENSE graphs.

    Min-label propagation drags the FULL edge list through a shuffle
    for O(diameter) rounds; on a dense near-dup candidate graph the
    edge list is the quadratic object, so every round pays the
    worst-case cost. Star contraction instead REWRITES the edge set
    each round — large-star hooks every node's larger neighbors onto
    its local minimum, small-star hooks the smaller ones — so edges
    collapse toward (node, component-min) stars: the per-round work
    SHRINKS as the graph contracts, and convergence is O(log n)
    rounds on any graph, independent of diameter. Each round is two
    groupBy-min + join passes keyed on node id (no broadcast, no
    driver data), ``localCheckpoint`` truncates lineage, and a
    count+hash checksum detects convergence. If the checksum has not
    stabilized within ``max_iters`` rounds the function RAISES — a
    partially contracted edge set can label members of one component
    inconsistently, so failing loudly beats returning silently wrong
    labels. The default of 50 is sized for PRODUCTION node counts,
    not the test corpora: the observed bound is ~ceil(log2 n)+2
    rounds (validated on path/star/barbell topologies to n=10^4 in
    tests/test_properties.py), so n≈10^12 — the 100 TB regime — needs
    ~42 rounds and 50 leaves headroom; callers with a tighter latency
    budget can pass a smaller cap explicitly.

    Returns (node, component) — identical contract and values to
    ``connected_components_min_label``: component = min node id, one
    row per node that appears in ``edges`` with both endpoints
    non-null (a node seen only in self-loop edges is its own
    singleton component, as min-label's symmetrize-without-filter
    keeps it).

    SMALL-REMAINDER LOCAL FINISH (r15 opt, guide §1.2 step 1 /
    §7.3): every contraction round preserves BOTH the node set (each
    endpoint of a round-N edge reappears in round N+1 — large-star
    re-emits larger endpoints and their mins, small-star re-emits
    (v, m) plus (u, m); the only drops are self-pairs whose node
    survives as the other side's min) and the component partition, so
    a union-find over ANY round's edge set yields exactly the labels
    contraction would converge to. Each distributed round costs ~1 s
    of fixed driver/AQE overhead regardless of size, so once the
    (Observation-counted, hence free) edge count is at or below
    ``local_finish_edges`` the loop collects the remaining edges —
    a BOUNDED driver fetch, the kmeans-centroid discipline — and
    finishes with :func:`_union_find_min_labels` instead of paying
    O(log remaining) more rounds. Default cutoff: 65536 edges (≈1-8 MB
    of id pairs); pass ``0`` to disable (the property tests pin the
    distributed path this way). At 100 TB scale the early rounds run
    distributed exactly as before and the switch only replaces the
    contraction TAIL, where per-round overhead dominates shrinking
    data."""
    # pin the caller's edge pipeline ONCE: both the contraction edge
    # set and the self-loop singleton leg derive from nn, and the
    # caller's edges are often an expensive pipeline (the LSH candidate
    # generator) — with two independent eager checkpoints the full
    # upstream ran TWICE per build (r15 opt: dedup_clusters /
    # dedup_canonical_pick re-ran shingle→minhash→bands→edges for the
    # self-loop leg alone). The derived checkpoints below read the
    # pinned rows, not the upstream.
    nn = (
        edges.selectExpr(f"{src} AS u", f"{dst} AS v")
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .localCheckpoint(eager=True)
    )
    spark = edges.sparkSession

    def _finish_local(edge_df: DataFrame) -> DataFrame:
        """Union-find the remaining (count-certified <= cutoff) edges
        on the driver; returns the same (node, component) frame the
        converged contraction would yield for these nodes."""
        from pyspark.sql.types import StructField, StructType

        comp = _union_find_min_labels((r[0], r[1]) for r in edge_df.collect())
        node_t = edge_df.schema[0].dataType
        schema = StructType(
            [StructField("node", node_t), StructField("component", node_t)]
        )
        return spark.createDataFrame(list(comp.items()), schema)

    # the initial dedup'd edge count rides the checkpoint job as an
    # Observation — it certifies the local-finish collect bound
    init_obs = Observation()
    e = (
        nn.filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
        .observe(init_obs, F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    n_edges = init_obs.get["c"]
    # contract parity with min-label: a node seen ONLY in self-loop
    # edges must survive as its own singleton component. Computed from
    # the (typically empty — candidate pairs are a_id < b_id) self-loop
    # subset alone, so the extra exchanges carry self-loop rows, never
    # the full node set, and the contraction hot path is untouched.
    # The checkpoint job doubles as the emptiness probe (Observation
    # count rides the same action), so the empty-singleton case can
    # skip the two broadcast joins + union in the result plan.
    slo_obs = Observation()
    self_loop_nodes = (
        nn.filter(F.col("u") == F.col("v"))
        .select(F.col("u").alias("node"))
        .dropDuplicates(["node"])
        .observe(slo_obs, F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    n_self_loop = slo_obs.get["c"]
    prev_sig: tuple[int, int] | None = None
    converged = False
    rounds = 0
    local_labels: DataFrame | None = None
    if local_finish_edges and n_edges <= local_finish_edges:
        local_labels = _finish_local(e)
        converged = True
    for _ in range(max_iters):
        if converged:
            break
        rounds += 1
        # large-star: from each node u, hook every LARGER neighbor to
        # m(u) = min(N(u) ∪ {u}) — doubling toward the minimum
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        # NO dropDuplicates here (r15 opt, one exchange less per
        # round): duplicate (u, m) edges cannot change the small-star
        # groupBy MINs, the round-end dedup below canonicalizes the
        # set before the checksum, and the un-deduped intermediate is
        # bounded by |sym| = 2|e| rows — never a blowup.
        e = (
            sym.join(mins, on="u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # small-star: orient edges toward the larger endpoint, then
        # hook each node's SMALLER neighbors (and itself) to the min
        directed = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = directed.groupBy("u").agg(F.min("v").alias("m"))
        # count + XOR-of-hashes set checksum: xor never overflows
        # (sum would, under ANSI) and the edge set is deduped, so
        # equal (count, xor) pins an unchanged set. The checksum rides
        # the checkpoint materialization as an Observation (metrics
        # are published by the same action), so each round is ONE
        # driver job, not checkpoint + separate agg pass (r15 opt:
        # halves the per-round job count of the CC loop).
        obs = Observation()
        e = (
            directed.join(mins, on="u")
            .select(F.col("v").alias("n"), F.col("m"))
            .unionByName(mins.select(F.col("u").alias("n"), F.col("m")))
            .filter(F.col("n") != F.col("m"))
            .dropDuplicates(["n", "m"])
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .observe(
                obs,
                F.count(F.lit(1)).alias("c"),
                F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
            )
            .localCheckpoint(eager=True)
        )
        m = obs.get
        sig = (m["c"], m["h"])
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
        # the round's edge count came free with the checkpoint: once
        # the contraction tail fits the bounded-collect cutoff, finish
        # it locally instead of paying more fixed-overhead rounds
        if local_finish_edges and m["c"] <= local_finish_edges:
            local_labels = _finish_local(e)
            converged = True
            break
    if stats is not None:
        # diagnostic out-param: rounds actually used, so callers and
        # the topology property tests can assert max_iters headroom
        # (the O(log n) claim) instead of just "didn't raise"
        stats["rounds"] = rounds
        stats["local_finish"] = local_labels is not None
    if not converged:
        raise RuntimeError(
            f"connected_components_star: edge-set checksum still moving after "
            f"{max_iters} rounds — contraction is O(log n), so this indicates a "
            f"pathological input or a bug; raise max_iters explicitly if the "
            f"graph is genuinely that large"
        )
    # at convergence every edge is (node, component-min); roots carry
    # no outgoing edge and label themselves; nodes with no surviving
    # non-self edge (isolated by the u != v filter) self-label
    if local_labels is not None:
        labels = resolved = local_labels
    else:
        labels = e.select(
            F.col("u").alias("node"), F.col("v").alias("component")
        ).unionByName(e.select(F.col("v").alias("node"), F.col("v").alias("component")))
        resolved = labels.groupBy("node").agg(F.min("component").alias("component"))
    # self-loop-only nodes become singleton components. Subtracting
    # the full label set from the (tiny, typically empty) self-loop
    # set must NOT shuffle the node set: broadcast the tiny side into
    # a semi-probe over labels (map-side, zero exchange), then
    # anti-join the tiny hit list back — both joins broadcast, so the
    # singleton branch adds no Exchange to the pipeline budget. With
    # zero self-loop rows (the common case — candidate pairs arrive
    # a_id < b_id) the branch is provably empty, so the result plan
    # skips it outright (the count came free with the checkpoint).
    if n_self_loop == 0:
        return resolved
    hits = labels.join(F.broadcast(self_loop_nodes), on="node", how="left_semi")
    singletons = self_loop_nodes.join(
        F.broadcast(hits), on="node", how="left_anti"
    ).select("node", F.col("node").alias("component"))
    return resolved.unionByName(singletons)


def pagerank_fixed(
    edges: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank (simplified: dangling mass dropped,
    uniform 1.0 init) — the iterative-numeric complement of BFS and
    connected components. Each iteration is one edge⋈rank join + one
    aggregation, both keyed on node ids; ``localCheckpoint`` truncates
    lineage per iteration exactly as the BFS loop does. A fixed
    iteration count (not convergence-test) keeps the result
    deterministic and oracle-checkable; production would loop until
    L1 delta < ε with the same body. Returns (node, r)."""
    e = (
        edges.select(F.col(src), F.col(dst))
        .filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .dropDuplicates([src, dst])
    )
    nodes = (
        e.select(F.col(src).alias("node"))
        .unionByName(e.select(F.col(dst).alias("node")))
        .distinct()
    )
    deg = e.groupBy(src).agg(F.count(F.lit(1)).alias("__deg"))
    ranks = nodes.select("node", F.lit(1.0).alias("r"))
    base = 1.0 - damping
    for _ in range(n_iter):
        contrib = (
            e.join(ranks, e[src] == ranks["node"])
            .join(deg, on=src)
            .select(F.col(dst).alias("node"), (F.col("r") / F.col("__deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib, on="node", how="left")
            .select(
                "node",
                (F.lit(base) + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks
