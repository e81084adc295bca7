"""Graph query surface over the materialized property graph (EP3).

The reference answers questions by LLM-generating Cypher against FalkorDB
(/root/reference/graphrag_sdk/steps/graph_query_step.py:40-82); its documented
Cypher surface includes MATCH patterns, variable-length paths and
shortestPath (fixtures/prompts.py:366-406). NL->query generation is out of
engine scope; the *query execution* surface is Spark SQL over the
`nodes`/`edges` tables plus these traversal helpers:

- `match_edges`: the MATCH (a:L1)-[:R]->(b:L2) pattern — label-filtered
  equi-joins, fully Catalyst-planned.
- `k_hop`: the frontier of nodes exactly/within k hops of a source set.
- `bfs_distances`: single-source shortest hop-distance (shortestPath
  parity), bounded depth — iterative frontier joins, `localCheckpoint` per
  round to truncate lineage, early exit when the frontier drains.

Distance semantics match a recursive-SQL BFS (driver_queries.py::
graph_bfs_distances carries the DuckDB WITH RECURSIVE oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def match_edges(
    nodes: DataFrame,
    edges: DataFrame,
    src_label: str | None = None,
    rel_label: str | None = None,
    dst_label: str | None = None,
) -> DataFrame:
    """MATCH (a:src_label)-[:rel_label]->(b:dst_label) over the graph tables.

    nodes(node_id, label, key, props), edges(src_id, label, dst_id, props).
    Returns (src_key, rel, dst_key, props).
    """
    e = edges
    if rel_label is not None:
        e = e.filter(F.col("label") == rel_label)
    out = e.select(
        "src_id", F.col("label").alias("rel"), "dst_id", "props"
    )
    src = nodes.select(
        F.col("node_id").alias("src_id"),
        F.col("label").alias("_sl"),
        F.col("key").alias("src_key"),
    )
    dst = nodes.select(
        F.col("node_id").alias("dst_id"),
        F.col("label").alias("_dl"),
        F.col("key").alias("dst_key"),
    )
    if src_label is not None:
        src = src.filter(F.col("_sl") == src_label)
    if dst_label is not None:
        dst = dst.filter(F.col("_dl") == dst_label)
    return (
        out.join(src, on="src_id")
        .join(dst, on="dst_id")
        .select("src_key", "rel", "dst_key", "props")
    )


def symmetrize(edges: DataFrame) -> DataFrame:
    """(src, dst) -> undirected distinct edge set."""
    return (
        edges.select("src", "dst")
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .dropDuplicates(["src", "dst"])
    )


def bfs_distances(
    edges: DataFrame, sources: DataFrame, max_depth: int = 4
) -> DataFrame:
    """Single-source(-set) BFS: (id, dist) with dist = min hops <= max_depth.

    edges(src long, dst long) directed (symmetrize() first for undirected);
    sources(id long). One frontier-expansion join per level; visited set
    kept small (id, dist); `localCheckpoint` truncates the growing lineage
    exactly like the CC loop (SURVEY §4 iterative hygiene).
    """
    visited = sources.select(
        F.col("id"), F.lit(0).cast("long").alias("dist")
    ).localCheckpoint()
    frontier = visited
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(edges, on=[frontier.id == edges.src])
            .select(F.col("dst").alias("id"))
            .dropDuplicates(["id"])
            .join(visited.select("id"), on="id", how="left_anti")
            .withColumn("dist", F.lit(depth).cast("long"))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint()
        frontier = nxt
    return visited


def k_hop(
    edges: DataFrame, sources: DataFrame, k: int, exactly: bool = False
) -> DataFrame:
    """Nodes within (or at exactly) k hops of the source set."""
    dists = bfs_distances(edges, sources, max_depth=k)
    if exactly:
        return dists.filter(F.col("dist") == k).select("id")
    return dists.select("id", "dist")


def weighted_sssp(
    edges: DataFrame, sources: DataFrame, max_hops: int = 8
) -> DataFrame:
    """Single-source(-set) minimal-weight paths: (id, dist).

    The reference's prompt surface documents FalkorDB's ``algo.SSpaths`` /
    ``algo.SPpaths`` (single-source / single-pair minimal-weight paths,
    ref fixtures/prompts.py:395-398); this is the Spark-side equivalent.
    edges(src, dst, w) with non-negative numeric w; sources(id). Returns
    the minimum total weight over walks of <= max_hops edges — bounded
    Bellman-Ford: each round relaxes every edge once (one equi-join on
    src + one min-aggregate, partial aggregation collapses hot dst keys
    map-side), `localCheckpoint` truncates lineage per round, early exit
    when a round improves nothing (at which point the bound is immaterial
    and dist IS the true shortest-path weight). Integer weights make the
    result bit-exact across engines (the driver gate's oracle is a
    recursive-CTE walk enumeration over the same graph).
    """
    dist = sources.select(
        "id", F.lit(0).cast("long").alias("d")
    ).localCheckpoint()
    e = edges.select("src", "dst", "w")
    for _ in range(max_hops):
        cand = (
            dist.join(e, dist.id == e.src)
            .select(F.col("dst").alias("id"), (F.col("d") + F.col("w")).alias("d"))
        )
        new = (
            dist.unionByName(cand)
            .groupBy("id")
            .agg(F.min("d").alias("d"))
            .localCheckpoint()
        )
        # converged when no (id, d) pair changed: every new row already
        # existed — probe is one cheap anti-join on gate-scale relations
        if new.join(dist, on=["id", "d"], how="left_anti").isEmpty():
            dist = new
            break
        dist = new
    return dist


def weighted_paths(
    edges: DataFrame,
    origins: DataFrame,
    max_hops: int = 8,
    with_path: bool = False,
) -> DataFrame:
    """Multi-ORIGIN minimal-weight walk distances: (origin, id, d).

    The per-origin generalization of `weighted_sssp`, backing the Cypher
    executor's ``CALL algo.SPpaths(...)`` / ``algo.SSpaths(...)`` surface
    (ref fixtures/prompts.py:394-398) where a MATCH can bind MANY source
    rows and the procedure runs once per binding. edges(src, dst, w) with
    non-negative numeric w; origins(origin). Returns the minimum total
    weight over walks of <= max_hops edges, keyed by origin (the origin
    itself appears at d = 0).

    All origins share each round's single equi-join + min-aggregate (the
    `landmark_distances` trick: the origin column rides through the join
    and becomes part of the aggregation key), so K origins cost one plan
    per round, not K — the shuffle key (origin, id) also spreads hot
    destination nodes across K reducer keys. `localCheckpoint` truncates
    lineage per round; early exit when a round improves nothing.

    ``with_path=True`` additionally returns ``path``: the node-id
    ARRAY of one cheapest walk (origin first). The per-round aggregate
    becomes min over STRUCT(d, path) — Spark orders structs
    field-by-field and arrays lexicographically, so among equal-weight
    walks discovered in the same round set the lexicographically
    smallest id-sequence wins, keeping the result deterministic for a
    given input and max_hops. State grows by one id per hop (bounded by
    max_hops), the price of the FalkorDB ``YIELD path`` surface —
    leave it off when only weights are needed.
    """
    if with_path:
        state = F.struct(
            F.lit(0.0).alias("d"),
            F.array(F.col("origin")).alias("path"),
        ).alias("s")
    else:
        state = F.struct(F.lit(0.0).alias("d")).alias("s")
    dist = origins.select(
        "origin", F.col("origin").alias("id"), state
    ).localCheckpoint()
    e = edges.select("src", "dst", "w")
    for _ in range(max_hops):
        relax = [(F.col("s.d") + F.col("w")).alias("d")]
        if with_path:
            relax.append(
                F.concat(F.col("s.path"), F.array(F.col("dst"))).alias(
                    "path"
                )
            )
        cand = dist.join(e, dist.id == e.src).select(
            "origin",
            F.col("dst").alias("id"),
            F.struct(*relax).alias("s"),
        )
        new = (
            dist.unionByName(cand)
            .groupBy("origin", "id")
            .agg(F.min("s").alias("s"))
            .localCheckpoint()
        )
        done = new.select("origin", "id", F.col("s.d").alias("d")).join(
            dist.select("origin", "id", F.col("s.d").alias("d")),
            on=["origin", "id", "d"],
            how="left_anti",
        ).isEmpty()
        dist = new
        if done:
            break
    out = ["origin", "id", F.col("s.d").alias("d")]
    if with_path:
        out.append(F.col("s.path").alias("path"))
    return dist.select(*out)


def weighted_paths_topk(
    edges: DataFrame,
    origins: DataFrame,
    k: int,
    max_hops: int = 8,
    beam: int | None = None,
) -> DataFrame:
    """k-cheapest SIMPLE paths per (origin, destination): (origin, id,
    d, path, rank).

    The pathCount > 1 generalization of `weighted_paths`, backing the
    Cypher executor's ``CALL algo.SPpaths({..., pathCount: k})``
    surface. edges(src, dst, w) with non-negative numeric w;
    origins(origin). Yields up to ``k`` rows per (origin, id), ranked
    1..k by (total weight, lexicographic id-sequence) — the same
    deterministic tie-break as ``weighted_paths(with_path=True)``.

    Paths are SIMPLE (no repeated node): without that restriction the
    k-cheapest set degenerates into back-and-forth padding of the one
    cheapest walk on any graph with a cheap reciprocal edge. The
    origin row itself appears as the empty walk (d = 0, rank 1).

    EXACT by default: each round extends every surviving simple path by
    one edge (frontier equi-join + vectorized array_contains filter),
    folds re-derivations with dropDuplicates (a path is re-created from
    its prefix every round the prefix survives), and only the FINAL
    window takes the top k. Pruning to k per (origin, id) mid-loop
    would be WRONG for simple paths — a prefix outside the current
    top-k can be the only one whose extension avoids a blocked node —
    so intermediate state is the full set of simple walks within
    max_hops, the same count a recursive-CTE enumeration pays. That is
    fine for the bounded maxLen this surface contracts (default 8) on
    sparse graphs; for dense graphs pass ``beam`` to keep only the
    cheapest `beam` paths per (origin, id) per round — a documented
    APPROXIMATION (beam search) that bounds state at the cost of
    exactness, never silently applied. All shuffles key on
    (origin, id), spreading hot destinations across origins exactly
    like `weighted_paths`; `localCheckpoint` truncates lineage per
    round; early exit when a round discovers nothing new.
    """
    from pyspark.sql.window import Window

    if k < 1:
        raise ValueError("k must be >= 1")
    if beam is not None and beam < k:
        raise ValueError("beam must be >= k")
    state = F.struct(
        F.lit(0.0).alias("d"),
        F.array(F.col("origin")).alias("path"),
    ).alias("s")
    dist = origins.select(
        "origin", F.col("origin").alias("id"), state
    ).localCheckpoint()
    e = edges.select("src", "dst", "w")
    win = Window.partitionBy("origin", "id").orderBy("s")
    for _ in range(max_hops):
        cand = (
            dist.join(e, dist.id == e.src)
            .filter(~F.array_contains(F.col("s.path"), F.col("dst")))
            .select(
                "origin",
                F.col("dst").alias("id"),
                F.struct(
                    (F.col("s.d") + F.col("w")).alias("d"),
                    F.concat(
                        F.col("s.path"), F.array(F.col("dst"))
                    ).alias("path"),
                ).alias("s"),
            )
        )
        new = dist.unionByName(cand).dropDuplicates(
            ["origin", "id", "s"]
        )
        if beam is not None:
            new = (
                new.withColumn("__rn", F.row_number().over(win))
                .filter(F.col("__rn") <= beam)
                .drop("__rn")
            )
        new = new.localCheckpoint()
        done = new.exceptAll(dist).isEmpty()
        dist = new
        if done:
            break
    return (
        dist.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(
            "origin", "id", F.col("s.d").alias("d"),
            F.col("s.path").alias("path"), "rank",
        )
    )


def shortest_path_pair(
    edges: DataFrame,
    sources: DataFrame,
    targets: DataFrame,
    max_hops: int = 8,
) -> DataFrame:
    """Single-PAIR minimal-weight path distance — the FalkorDB
    ``algo.SPpaths`` surface (ref fixtures/prompts.py:394-395), the
    single-pair sibling of `weighted_sssp` (VERDICT r03 #4).

    edges(src, dst, w) with non-negative w; sources(id) / targets(id) are
    (usually 1-row) endpoint sets. Returns (id, d) for reached targets —
    empty if unreachable within max_hops.

    Same bounded Bellman-Ford as `weighted_sssp`, plus two single-pair
    optimizations that matter at scale:

    - **frontier relaxation**: each round relaxes only rows that IMPROVED
      last round (the classic queue-based Bellman-Ford), so settled
      regions of a big graph stop generating join traffic;
    - **branch-and-bound pruning**: once any walk reaches a target with
      total weight ``b``, every settled node with ``d > b`` is dropped
      from the relaxation set — with non-negative weights it cannot be on
      a better path to the target. The bound is a 1-row broadcast, so the
      prune is a map-side filter, no extra shuffle.
    """
    dist = sources.select(
        "id", F.lit(0).cast("long").alias("d")
    ).localCheckpoint()
    e = edges.select("src", "dst", "w")
    t = targets.select("id").localCheckpoint()
    frontier = dist
    for _ in range(max_hops):
        cand = frontier.join(e, frontier.id == e.src).select(
            F.col("dst").alias("id"), (F.col("d") + F.col("w")).alias("d")
        )
        new = (
            dist.unionByName(cand).groupBy("id").agg(F.min("d").alias("d"))
        )
        bound = new.join(t, on="id").agg(F.min("d").alias("_b"))
        new = (
            new.crossJoin(F.broadcast(bound))
            .filter(F.col("_b").isNull() | (F.col("d") <= F.col("_b")))
            .drop("_b")
            .localCheckpoint()
        )
        improved = new.join(
            dist, on=["id", "d"], how="left_anti"
        ).localCheckpoint()
        dist = new
        if improved.isEmpty():
            break
        frontier = improved
    return dist.join(t, on="id")


def landmark_distances(
    edges: DataFrame, landmarks: DataFrame, max_hops: int = 8
) -> DataFrame:
    """Per-landmark BFS distances: (lm, id, dist), one row per landmark ×
    reached node (self included at dist 0).

    Landmark-parallel frontier expansion — the standard way to compute
    (sampled) centralities at scale: all landmarks advance in the SAME
    per-level join, so the work per level is one equi-join on src plus one
    (lm, id) dedup regardless of how many landmarks run; a landmark is
    just a key column. Visited-set anti-join keeps frontiers minimal,
    `localCheckpoint` truncates lineage per level, early exit on a drained
    frontier. edges(src, dst) directed — symmetrize first for undirected
    graphs. landmarks(id).
    """
    dist = landmarks.select(
        F.col("id").alias("lm"), "id", F.lit(0).cast("long").alias("dist")
    ).localCheckpoint()
    e = edges.select("src", "dst")
    frontier = dist
    for _ in range(max_hops):
        nxt = (
            frontier.join(e, frontier.id == e.src)
            .select("lm", F.col("dst").alias("id"),
                    (F.col("dist") + 1).alias("dist"))
            .groupBy("lm", "id")
            .agg(F.min("dist").alias("dist"))
            .join(dist, on=["lm", "id"], how="left_anti")
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        dist = dist.unionByName(nxt).localCheckpoint()
        frontier = nxt
    return dist


def closeness_centrality(
    edges: DataFrame, landmarks: DataFrame, max_hops: int = 8
) -> DataFrame:
    """Closeness of each landmark within max_hops:
    (id, n_reached, total_dist, closeness).

    closeness = n_reached / total_dist (0.0 for isolated landmarks) — the
    sampled-landmark estimator (exact when landmarks = all nodes and
    max_hops >= diameter). n_reached/total_dist are exact BIGINTs so
    cross-engine gates can compare them bit-exactly and leave the ratio
    out of the hash.
    """
    d = landmark_distances(edges, landmarks, max_hops=max_hops)
    agg = d.filter(F.col("dist") > 0).groupBy("lm").agg(
        F.count("*").alias("n_reached"),
        F.sum("dist").alias("total_dist"),
    )
    return landmarks.join(
        agg, landmarks.id == agg.lm, how="left"
    ).select(
        "id",
        F.coalesce("n_reached", F.lit(0)).cast("long").alias("n_reached"),
        F.coalesce("total_dist", F.lit(0)).cast("long").alias("total_dist"),
        F.when(
            F.coalesce("total_dist", F.lit(0)) > 0,
            F.col("n_reached") / F.col("total_dist"),
        ).otherwise(F.lit(0.0)).alias("closeness"),
    )


def random_walks(
    edges: DataFrame,
    walk_len: int,
    n_walks: int = 1,
    seed: str = "kgforge",
    nodes: DataFrame | None = None,
) -> DataFrame:
    """DeepWalk-style walk corpus: (walk_id, start, path) — `n_walks`
    walks of up to `walk_len` edges from every node (array of node
    ids, start first; walks stop early at sinks).

    The graph-embedding training-data generator (DeepWalk/node2vec
    feed skip-gram on exactly such a table). DETERMINISTIC by
    construction instead of Math.random: at each step the walk moves
    to the neighbor minimizing md5(seed || walk_id || step || dst) — a
    per-(walk, step) uniform hash draw over the out-neighbors that is
    a pure function of (graph, seed), reproducible on any cluster
    layout and REPLAYABLE by a SQL oracle (argmin over a portable md5
    of strings; no modulo-over-degree, no engine RNG). Different
    `n_walks` indices and different seeds give independent draws.

    Per step: one equi-join of the walk frontier against the edge list
    + one min_by aggregate keyed on walk_id — the BFS-round shape, L
    joins for walk_len L, `localCheckpoint` per step. State is one row
    per walk; hot nodes fan out across walk_ids. edges(src, dst);
    pass a symmetrized list for undirected walks. `nodes` optionally
    restricts the start set (default: every distinct src/dst).
    """
    e = edges.select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
    )
    if nodes is None:
        starts = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
        )
    else:
        starts = nodes.select(F.col("id").cast("string").alias("id"))
    walks = starts.select(
        "id", F.explode(F.sequence(F.lit(0), F.lit(n_walks - 1))).alias("w")
    ).select(
        F.concat(F.col("id"), F.lit("#"), F.col("w").cast("string")).alias(
            "walk_id"
        ),
        F.col("id").alias("start"),
        F.col("id").alias("cur"),
        F.array(F.col("id")).alias("path"),
        F.col("w").cast("string").alias("w"),
    ).localCheckpoint()
    for step in range(walk_len):
        draw = F.md5(
            F.concat(
                F.lit(seed), F.lit("|"), F.col("walk_id"),
                F.lit("|"), F.lit(str(step)), F.lit("|"), F.col("dst"),
            )
        )
        nxt = (
            walks.join(e, walks.cur == e.src)
            .groupBy("walk_id")
            .agg(F.min_by("dst", draw).alias("__next"))
        )
        moved = (
            walks.join(nxt, on="walk_id")
            .select(
                "walk_id", "start",
                F.col("__next").alias("cur"),
                F.concat("path", F.array("__next")).alias("path"),
                "w",
            )
        )
        stuck = walks.join(nxt, on="walk_id", how="left_anti")
        walks = moved.unionByName(stuck).localCheckpoint()
    return walks.select("walk_id", "start", "path")


def harmonic_centrality(
    edges: DataFrame, landmarks: DataFrame, max_hops: int = 8
) -> DataFrame:
    """Harmonic centrality of each landmark within max_hops:
    (id, dist, n_at_dist) integer decomposition rows plus the float
    sum via `harmonic_sum`.

    harmonic(v) = Σ over reachable u ≠ v of 1/dist(v, u) — the
    centrality that, unlike closeness, is well-defined on disconnected
    graphs (Boldi & Vigna 2014). Same landmark-parallel BFS as
    `closeness_centrality`; the result here is the (dist, count)
    HISTOGRAM per landmark — all BIGINTs, so cross-engine gates
    compare it bit-exactly and the float Σ n/d (whose accumulation
    order is engine-dependent) stays out of the hash, the same split
    as closeness' n_reached/total_dist and betweenness' counts.
    """
    d = landmark_distances(edges, landmarks, max_hops=max_hops)
    return (
        d.filter(F.col("dist") > 0)
        .groupBy(F.col("lm").alias("id"), "dist")
        .agg(F.count("*").cast("long").alias("n_at_dist"))
    )


def harmonic_sum(hist: DataFrame) -> DataFrame:
    """(id, harmonic) from the `harmonic_centrality` histogram — the
    float leg, kept out of cross-engine hashes (accumulation order is
    not contractual; the histogram is)."""
    return (
        hist.withColumn("part", F.col("n_at_dist") / F.col("dist"))
        .groupBy("id")
        .agg(F.sum("part").alias("harmonic"))
    )


def bfs_sigma(
    edges: DataFrame, origins: DataFrame, max_hops: int = 8
) -> DataFrame:
    """Per-origin BFS distances AND shortest-path counts:
    (origin, id, dist, sigma), self included at (0, 1).

    `landmark_distances` extended with the σ recurrence: a node first
    reached at depth d has σ = Σ σ(predecessors at depth d-1) — the
    frontier IS the depth-(d-1) set, so the per-level aggregate switches
    from min(dist) to sum(sigma); everything else (one equi-join per
    level, visited anti-join, localCheckpoint, early exit) is identical.
    σ values are exact BIGINTs. edges(src, dst) directed — symmetrize
    first for undirected. origins(origin)."""
    state = origins.select(
        "origin",
        F.col("origin").alias("id"),
        F.lit(0).cast("long").alias("dist"),
        F.lit(1).cast("long").alias("sigma"),
    ).localCheckpoint()
    e = edges.select("src", "dst")
    frontier = state
    for d in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier.id == e.src)
            .groupBy("origin", F.col("dst").alias("id"))
            .agg(F.sum("sigma").alias("sigma"))
            .withColumn("dist", F.lit(d).cast("long"))
            .join(state, on=["origin", "id"], how="left_anti")
            .select("origin", "id", "dist", "sigma")
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        state = state.unionByName(nxt).localCheckpoint()
        frontier = nxt
    return state


def betweenness_counts(
    edges: DataFrame, max_depth: int = 4, nodes: DataFrame | None = None
) -> DataFrame:
    """Shortest-path through-counts per (middle, source, target) within
    max_depth: (v, s, t, through, sigma) — all-integer rows, the exact
    decomposition betweenness sums.

    ``through`` = σ(s,v)·σ(v,t) where dist(s,v) + dist(v,t) = dist(s,t)
    (the standard counting identity), ``sigma`` = σ(s,t); the pair
    (s,t) contributes through/sigma to v's betweenness. Keeping the
    rows integer (and summing the ratio only in
    `betweenness_centrality`) is what lets a cross-engine gate compare
    the hard part — the all-pairs (dist, σ) computation and the
    middle-node join — bit-exactly, with no float-accumulation-order
    sensitivity (the reason this uses the counting formulation rather
    than Brandes' backward dependency sweep, whose recursive float
    accumulation is not reproducible across engines).

    BOUNDED-DEPTH (k-)betweenness: only pairs within max_depth count —
    the published k-betweenness variant, and the thing that makes the
    plan scale: state is one row per (origin, node) pair within the
    depth-k ball (NOT n² — bounded by ball sizes), every join/aggregate
    keys on those pair columns, and `bfs_sigma`'s per-level frontier is
    shared by all origins. The middle join is (s,v)⋈(v,t) on v plus a
    (s,t) σ lookup — three reads of the SAME localCheckpointed
    all-pairs relation, computed once. edges(src, dst) directed;
    symmetrize first for undirected semantics (each unordered pair then
    contributes twice, the usual /2 convention applies downstream).
    """
    e = edges.select("src", "dst")
    if nodes is None:
        nodes = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
        )
    ap = bfs_sigma(
        e, nodes.select(F.col("id").alias("origin")), max_hops=max_depth
    )
    left = ap.filter(F.col("origin") != F.col("id")).select(
        F.col("origin").alias("s"), F.col("id").alias("v"),
        F.col("dist").alias("d_sv"), F.col("sigma").alias("sig_sv"),
    )
    right = ap.filter(F.col("origin") != F.col("id")).select(
        F.col("origin").alias("v"), F.col("id").alias("t"),
        F.col("dist").alias("d_vt"), F.col("sigma").alias("sig_vt"),
    )
    st = ap.select(
        F.col("origin").alias("s"), F.col("id").alias("t"),
        F.col("dist").alias("d_st"), F.col("sigma").alias("sigma"),
    )
    return (
        left.join(right, on="v")
        .filter(F.col("s") != F.col("t"))
        .join(st, on=["s", "t"])
        .filter(F.col("d_sv") + F.col("d_vt") == F.col("d_st"))
        .select(
            "v", "s", "t",
            (F.col("sig_sv") * F.col("sig_vt")).alias("through"),
            "sigma",
        )
    )


def betweenness_centrality(
    edges: DataFrame, max_depth: int = 4, nodes: DataFrame | None = None
) -> DataFrame:
    """Bounded-depth (k-)betweenness centrality: (id, bc).

    bc(v) = Σ over ordered pairs (s, t) within max_depth of
    σ_st(v)/σ_st — directed convention; on a symmetrized graph each
    unordered pair counts twice (halve downstream if the undirected
    normalization is wanted). Nodes on no shortest path get 0.0. The
    integer decomposition this sums is `betweenness_counts` (see there
    for exactness and scale notes)."""
    e = edges.select("src", "dst")
    if nodes is None:
        nodes = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
        )
    c = betweenness_counts(e, max_depth=max_depth, nodes=nodes)
    agg = c.groupBy(F.col("v").alias("id")).agg(
        F.sum(F.col("through") / F.col("sigma")).alias("bc")
    )
    return nodes.join(agg, on="id", how="left").select(
        "id", F.coalesce("bc", F.lit(0.0)).alias("bc")
    )


def label_propagation(
    edges: DataFrame, nodes: DataFrame, n_iter: int = 5
) -> DataFrame:
    """Synchronous label-propagation communities (CDLP): (id, community).

    The FalkorDB algo surface's community detector, deterministic
    variant: every node starts as its own label; each round every node
    adopts the most frequent label among ITSELF and its in-neighbors
    (self-inclusive voting — the standard damping that stops synchronous
    LPA from oscillating on bipartite structure), ties broken by the
    SMALLEST label, isolated nodes keep their label. Synchronous update +
    min tie-break make the result a pure function of (graph, n_iter) —
    cross-engine exact, unlike the asynchronous random-order LPA in most
    libraries. Per round: one equi-join, one (node, label) count, one
    window top-1 — all key-partitioned; pass the symmetrized edge list
    for undirected semantics. `localCheckpoint` truncates lineage per
    round.
    """
    from pyspark.sql import Window

    labels = nodes.select("id", F.col("id").alias("community"))
    labels = labels.localCheckpoint()
    e = edges.select("src", "dst")
    w = Window.partitionBy("id").orderBy(
        F.col("c").desc(), F.col("community").asc()
    )
    for _ in range(n_iter):
        votes = (
            labels.join(e, labels.id == e.src)
            .select(F.col("dst").alias("id"), "community")
            .unionByName(labels)
        )
        labels = (
            votes.groupBy("id", "community")
            .agg(F.count("*").alias("c"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("id", "community")
            .localCheckpoint()
        )
    return labels


def k_core(
    edges: DataFrame, k: int, rounds: int | None = None,
    max_rounds: int = 32,
) -> DataFrame:
    """Bounded k-core peeling: nodes surviving iterative removal of
    degree-< k nodes. Returns (id) — the (bounded) k-core vertex set.

    edges(src, dst), SYMMETRIZED by the caller for undirected semantics
    (degree = out-degree of the symmetric list). Each round: one degree
    aggregate (map-side partial) + two semi-joins restricting the edge
    list to surviving endpoints; `localCheckpoint` truncates lineage.
    Early exit when a round removes nothing — peeling is monotone, so
    exiting early equals running the remaining rounds.

    ``rounds=None`` peels to the fixpoint (true k-core, bounded by
    `max_rounds` as a runaway guard); a fixed ``rounds=r`` runs exactly
    r peel rounds — the cross-engine-exact contract the driver gate
    unrolls in SQL (same trick as `label_propagation`'s fixed n_iter:
    a fixpoint is not expressible in a plain recursive CTE, a fixed
    unroll is).
    """
    alive = edges.select("src", "dst").localCheckpoint()
    n_rounds = rounds if rounds is not None else max_rounds
    for _ in range(n_rounds):
        keep = (
            alive.groupBy("src")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= k)
            .select("src")
        )
        new = (
            alive.join(keep, on="src", how="left_semi")
            .join(
                keep.select(F.col("src").alias("dst")),
                on="dst",
                how="left_semi",
            )
            .localCheckpoint()
        )
        if alive.join(new, on=["src", "dst"], how="left_anti").isEmpty():
            # nothing removed: converged (peeling only ever removes)
            alive = new
            break
        alive = new
    return alive.select(F.col("src").alias("id")).dropDuplicates()


def _edge_support(und: DataFrame) -> DataFrame:
    """Per-edge triangle support over a canonical undirected edge list
    und(a, b) with a < b, distinct: -> (a, b, sup).

    Same degree-ordered orientation as `triangle_count` (wedge fan-out
    bounded ~O(sqrt(m)) per key on power-law graphs); each triangle is
    witnessed once, then exploded into its three member edges and
    counted map-side. Edges in no triangle get no row (support 0)."""
    dg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    e = und.join(
        dg.select(F.col("id").alias("a"), F.col("deg").alias("da")), on="a"
    ).join(dg.select(F.col("id").alias("b"), F.col("deg").alias("db")), on="b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = e.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("s"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("t"),
    )
    w = (
        o.alias("x")
        .join(
            o.alias("y"),
            (F.col("x.s") == F.col("y.s")) & (F.col("x.t") < F.col("y.t")),
        )
        .select(
            F.col("x.s").alias("u"),
            F.col("x.t").alias("v"),
            F.col("y.t").alias("w2"),
        )
    )
    tri = w.join(
        und,
        (F.least("v", "w2") == F.col("a")) & (F.greatest("v", "w2") == F.col("b")),
        how="inner",
    ).select("u", "v", "w2")
    tri_edges = (
        tri.select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"))
        .unionByName(
            tri.select(
                F.least("u", "w2").alias("a"), F.greatest("u", "w2").alias("b")
            )
        )
        .unionByName(
            tri.select(
                F.least("v", "w2").alias("a"), F.greatest("v", "w2").alias("b")
            )
        )
    )
    return tri_edges.groupBy("a", "b").agg(
        F.count("*").cast("long").alias("sup")
    )


def k_truss(
    edges: DataFrame, k: int, rounds: int | None = None,
    max_rounds: int = 32,
) -> DataFrame:
    """Bounded k-truss peeling: edges surviving iterative removal of
    edges in fewer than k-2 triangles. Returns (a, b), a < b.

    The edge-level analogue of `k_core` (Cohen 2008) — the standard
    community-core primitive one notch stronger than cores: every edge
    in a k-truss has k-2 common-neighbor witnesses, so trusses reject
    the star-like hubs k-core keeps. edges(src, dst) in either or both
    directions; canonicalized internally.

    Each round: one skew-guarded support computation (`_edge_support`:
    degree-oriented wedge join + closing equi-join + map-side edge
    count) + one filter; `localCheckpoint` truncates lineage. Fixed
    ``rounds=r`` is the cross-engine-exact contract the driver gate
    unrolls in SQL (same rule as `k_core`); ``rounds=None`` peels to the
    fixpoint with early exit (peeling is monotone)."""
    if k < 3:
        raise ValueError("k-truss requires k >= 3 (support threshold k-2 >= 1)")
    und = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
        .localCheckpoint()
    )
    n_rounds = rounds if rounds is not None else max_rounds
    for _ in range(n_rounds):
        sup = _edge_support(und)
        new = (
            und.join(sup, on=["a", "b"], how="left")
            .filter(F.coalesce(F.col("sup"), F.lit(0)) >= k - 2)
            .select("a", "b")
            .localCheckpoint()
        )
        if und.join(new, on=["a", "b"], how="left_anti").isEmpty():
            und = new
            break
        und = new
    return und


def maximal_independent_set(
    edges: DataFrame, rounds: int | None = None, max_rounds: int = 32,
    seed: str = "mis",
) -> DataFrame:
    """Luby's maximal independent set, derandomized: -> (id).

    The coordination-free parallel selection primitive (Luby 1986):
    each round, a node joins the set iff its priority beats every ALIVE
    neighbor's; winners and their neighbors leave the graph. Priorities
    are md5('<seed>|' || id) || zero-padded id — a deterministic uniform
    draw with strictly distinct keys (the random_walks trick), so the
    result is a pure function of the graph + seed and a fixed-round
    unroll is SQL-reproducible (the k_core/k_truss gate contract).
    Expected O(log n) rounds to the fixpoint; per round one min-
    aggregate over edges + two anti-joins, localCheckpoint hygiene.
    Direction is ignored (symmetrized internally); isolated-by-peeling
    nodes win automatically (no alive neighbor)."""
    pr_expr = F.concat(
        F.md5(F.encode(
            F.concat(F.lit(f"{seed}|"), F.col("id").cast("string")), "UTF-8"
        )),
        F.lpad(F.col("id").cast("string"), 20, "0"),
    )
    fwd = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    sym = (
        fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .dropDuplicates()
        .localCheckpoint()
    )
    alive = (
        sym.select(F.col("src").alias("id"))
        .dropDuplicates()
        .select("id", pr_expr.alias("pr"))
        .localCheckpoint()
    )
    e = sym
    mis = None
    n_rounds = rounds if rounds is not None else max_rounds
    for _ in range(n_rounds):
        if alive.isEmpty():
            break
        minp = (
            e.join(alive.select(F.col("id").alias("dst"), "pr"), on="dst")
            .groupBy("src")
            .agg(F.min("pr").alias("mn"))
        )
        win = (
            alive.join(minp, alive["id"] == minp["src"], "left")
            .where(F.col("mn").isNull() | (F.col("pr") < F.col("mn")))
            .select("id")
            .localCheckpoint()
        )
        mis = win if mis is None else mis.unionByName(win).localCheckpoint()
        dead = win.unionByName(
            e.join(win.withColumnRenamed("id", "dst"), on="dst").select(
                F.col("src").alias("id")
            )
        ).dropDuplicates()
        alive = alive.join(dead, on="id", how="left_anti").localCheckpoint()
        e = (
            e.join(alive.select(F.col("id").alias("src")), on="src", how="left_semi")
            .join(alive.select(F.col("id").alias("dst")), on="dst", how="left_semi")
            .localCheckpoint()
        )
    if mis is None:
        return alive.select("id").limit(0)
    return mis.dropDuplicates()


def hyperball_registers(
    edges: DataFrame, rounds: int = 2, p: int = 8
) -> DataFrame:
    """HyperBall (Boldi & Vigna 2013): per-node HLL registers of the
    out-ball of radius ``rounds`` -> (id, bucket, max_rho).

    THE way neighborhood functions / effective diameter are computed on
    web-scale graphs: instead of materializing reachable SETS (quadratic
    blow-up), every node carries a 2^p-register HLL sketch of its ball
    and each round merges in its out-neighbors' sketches — per-round
    cost is one equi-join + a (node, bucket) max-aggregate, per-node
    state is bounded by 2^p regardless of ball size. Because the
    registers (functions/sketch.py::hll_registers derivation) are a pure
    function of the reachable SET and per-bucket max IS set-union, round
    t holds exactly the registers of the true distance-<=t ball — which
    is what lets an exact-closure SQL oracle check the sketch itself.
    Estimate per node via ``hll_estimate(regs, "id", p)``; symmetrize
    first for undirected balls."""
    from kgforge.functions.sketch import hll_registers

    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .dropDuplicates()
    )
    regs = hll_registers(
        nodes.withColumn("__val", F.col("id")), "id", "__val", p=p
    ).localCheckpoint()
    e = edges.select("src", "dst").dropDuplicates()
    for _ in range(rounds):
        nb = e.join(regs, e["dst"] == regs["id"], "inner").select(
            F.col("src").alias("id"), "bucket", "max_rho"
        )
        regs = (
            regs.unionByName(nb)
            .groupBy("id", "bucket")
            .agg(F.max("max_rho").alias("max_rho"))
            .localCheckpoint()
        )
    return regs


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    scaled: bool = False,
    dedup: bool = True,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list: (id, rank).

    edges(src long, dst long). Per-node formulation
    ``r'(v) = (1-d) + d * sum_{u->v} r(u)/outdeg(u)``; dangling nodes
    contribute nothing (the standard simplified variant). One equi-join +
    one aggregate per iteration — partial aggregation collapses hot dst
    keys map-side — with `localCheckpoint` truncating lineage per round
    (same iterative hygiene as bfs_distances / connected components).

    ``scaled=True`` runs the recurrence in BIGINT fixed-point (rank x 1e9,
    integral division at every step): bit-identical across engines and
    partial-agg orders, which is what the driver's cross-engine oracle
    hash-compare needs (float ranks drift in the last ulp with summation
    order). Entity-importance ranking over the constructed KG; the
    reference has no graph analytics at all (single FalkorDB instance).
    ``dedup=False`` skips the defensive edge dropDuplicates when the
    caller guarantees distinct edges (e.g. output of ``symmetrize``).
    """
    e = edges.select("src", "dst")
    if dedup:
        e = e.dropDuplicates()
    # persist (not localCheckpoint) the loop-invariant relations: persist
    # keeps the plan's output partitioning, so the per-iteration join on
    # src and the left join on id reuse the existing exchanges instead of
    # reshuffling the (large) edge relation every round
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .dropDuplicates()
        .persist()
    )
    deg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    ed = e.join(deg, on="src").persist()
    if scaled:
        ranks = nodes.select(
            "id", F.lit(1_000_000_000).cast("long").alias("rank")
        )
        share = F.expr("rank div outdeg")
        newrank = F.expr(
            "CAST(150000000 + (85 * coalesce(s, CAST(0 AS BIGINT))) div 100"
            " AS BIGINT)"
        )
    else:
        ranks = nodes.select("id", F.lit(1.0).alias("rank"))
        share = F.col("rank") / F.col("outdeg")
        newrank = F.lit(1.0 - damping) + F.lit(damping) * F.coalesce(
            F.col("s"), F.lit(0.0)
        )
    for _ in range(n_iter):
        contrib = (
            ranks.join(ed, ranks.id == ed.src)
            .select(F.col("dst").alias("id"), share.alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib, on="id", how="left")
            .select("id", newrank.alias("rank"))
            .localCheckpoint()  # eager: the last round materializes ranks
        )
    ed.unpersist()
    nodes.unpersist()
    return ranks


def personalized_pagerank(
    edges: DataFrame,
    seeds,
    n_iter: int = 3,
    damping: float = 0.85,
    scaled: bool = True,
    dedup: bool = True,
) -> DataFrame:
    """Personalized PageRank: (id, rank) with teleport mass restricted
    to ``seeds`` — the GraphRAG local-expansion primitive (rank the
    graph neighborhood around the query's entities instead of globally).

    Same shape as `pagerank` (one equi-join + map-side-combined
    aggregate per round, persisted degree-annotated edges,
    localCheckpoint per round); the only change is the teleport term:
    ``r'(v) = (1-d)·scale·[v ∈ seeds] + d·Σ r(u)/outdeg(u)``, so
    non-seed nodes accrue rank only through paths from seeds and the
    scores decay with graph distance. ``scaled=True`` runs the BIGINT
    fixed-point recurrence (cross-engine exact, d fixed at 0.85 like
    `pagerank`). ``seeds`` is a list of ids or a DataFrame with an
    ``id`` column."""
    e = edges.select("src", "dst")
    if dedup:
        e = e.dropDuplicates()
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .dropDuplicates()
    )
    if isinstance(seeds, DataFrame):
        nodes = nodes.join(
            seeds.select(F.col("id")).dropDuplicates().withColumn(
                "__s", F.lit(1)
            ),
            on="id",
            how="left",
        ).select("id", F.col("__s").isNotNull().alias("is_seed"))
    else:
        seed_list = list(seeds)
        if not seed_list:
            raise ValueError("seeds must be non-empty")
        nodes = nodes.select(
            "id", F.col("id").isin(seed_list).alias("is_seed")
        )
    nodes = nodes.persist()
    deg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    ed = e.join(deg, on="src").persist()
    if scaled:
        ranks = nodes.select(
            "id",
            "is_seed",
            F.when(F.col("is_seed"), F.lit(1_000_000_000))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("rank"),
        )
        share = F.expr("rank div outdeg")
        newrank = (
            F.when(F.col("is_seed"), F.lit(150_000_000))
            .otherwise(F.lit(0))
            .cast("long")
            + F.expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")
        ).cast("long")
    else:
        ranks = nodes.select(
            "id",
            "is_seed",
            F.when(F.col("is_seed"), F.lit(1.0)).otherwise(0.0).alias("rank"),
        )
        share = F.col("rank") / F.col("outdeg")
        newrank = F.when(
            F.col("is_seed"), F.lit(1.0 - damping)
        ).otherwise(0.0) + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
    for _ in range(n_iter):
        contrib = (
            ranks.join(ed, ranks.id == ed.src)
            .select(F.col("dst").alias("id"), share.alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib, on="id", how="left")
            .select("id", "is_seed", newrank.alias("rank"))
            .localCheckpoint()
        )
    ed.unpersist()
    nodes.unpersist()
    return ranks.select("id", "rank")


def hits(
    edges: DataFrame,
    rounds: int = 2,
    normalized: bool = False,
    dedup: bool = True,
) -> DataFrame:
    """HITS hub/authority scores over a directed edge list: (id, auth, hub).

    Kleinberg's update order per round: authorities from the previous
    hubs, hubs from the NEW authorities::

        a_i(v) = sum_{u->v} h_{i-1}(u)
        h_i(u) = sum_{u->v} a_i(v)

    with ``h_0 = 1`` everywhere. The default is the UNNORMALIZED
    fixed-round recurrence: every score stays an exact BIGINT, so the
    cross-engine driver gate hash-compares bit-exactly (the same craft
    as ``pagerank(scaled=True)`` / ``betweenness_counts``), and the
    per-round ranking is identical to normalized HITS (normalization is
    one positive scalar per round). Values grow like
    ``max_degree^(2*rounds)`` — keep rounds small (2-3) or pass
    ``normalized=True``, which divides both vectors by their sums each
    round (floats; convergence runs; pytest-pinned vs numpy).

    Scale shape: one equi-join + one hash aggregate per half-round
    (partial aggregation collapses hot endpoints map-side), edge
    relation persisted as the loop invariant, `localCheckpoint` per
    round truncating lineage. Sparse frames inside the loop — a node
    missing from `a`/`h` has score 0 and contributes nothing, which the
    inner join already encodes; the dense (coalesce 0) view is produced
    once at the end. The reference has no graph analytics at all.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    e = edges.select("src", "dst")
    if dedup:
        e = e.dropDuplicates()
    e = e.persist()
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .dropDuplicates()
        .persist()
    )
    if normalized:
        h = nodes.select("id", F.lit(1.0).alias("h"))
    else:
        h = nodes.select("id", F.lit(1).cast("long").alias("h"))
    a = None
    for _ in range(rounds):
        a = (
            e.join(h, h.id == e.src)
            .groupBy(F.col("dst").alias("v"))
            .agg(F.sum("h").alias("a"))
            .withColumnRenamed("v", "id")
        )
        if normalized:
            tot = a.agg(F.sum("a").alias("ta"))
            a = a.crossJoin(F.broadcast(tot)).select(
                "id", (F.col("a") / F.col("ta")).alias("a")
            )
        a = a.localCheckpoint()
        h = (
            e.join(a, a.id == e.dst)
            .groupBy(F.col("src").alias("v"))
            .agg(F.sum("a").alias("h"))
            .withColumnRenamed("v", "id")
        )
        if normalized:
            tot = h.agg(F.sum("h").alias("th"))
            h = h.crossJoin(F.broadcast(tot)).select(
                "id", (F.col("h") / F.col("th")).alias("h")
            )
        h = h.localCheckpoint()
    zero = F.lit(0.0) if normalized else F.lit(0).cast("long")
    out = (
        nodes.join(a, on="id", how="left")
        .join(h, on="id", how="left")
        .select(
            "id",
            F.coalesce("a", zero).alias("auth"),
            F.coalesce("h", zero).alias("hub"),
        )
        .localCheckpoint()  # eager, so the unpersists below can't force
        # a recompute of the (dropped) edge/node caches at collect time
    )
    e.unpersist()
    nodes.unpersist()
    return out


def triangle_count(
    edges: DataFrame, group_col: str | None = None
) -> DataFrame:
    """Count triangles: (group, n_triangles) or a single n_triangles row.

    edges(src, dst [, group]); direction ignored, self-loops dropped.
    Degree-ordered orientation first — every undirected edge points from
    its lower-(degree, id) endpoint to the higher one — so the wedge
    join's per-key fan-out is bounded by O(sqrt(m)) even on power-law
    graphs (the classic node-iterator++ skew guard); then one wedge join
    + one closing equi-join, all Catalyst-planned. Each triangle is
    counted exactly once: orientation by a total order makes the oriented
    graph acyclic, leaving one (x -> y -> z, x -> z) witness per triangle.
    """
    cols = [group_col] if group_col else []
    und = (
        edges.select(
            *cols,
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(cols + ["a", "b"])
    )
    dg = (
        und.select(*cols, F.col("a").alias("id"))
        .unionByName(und.select(*cols, F.col("b").alias("id")))
        .groupBy(*cols, "id")
        .agg(F.count("*").alias("deg"))
    )
    e = und.join(
        dg.select(
            *cols, F.col("id").alias("a"), F.col("deg").alias("da")
        ),
        on=cols + ["a"],
    ).join(
        dg.select(
            *cols, F.col("id").alias("b"), F.col("deg").alias("db")
        ),
        on=cols + ["b"],
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    from kgforge.cache import persist_tracked

    oriented = persist_tracked(
        e.select(
            *cols,
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    path = oriented.select(
        *cols, F.col("u").alias("x"), F.col("v").alias("y")
    ).join(
        oriented.select(*cols, F.col("u").alias("y"), F.col("v").alias("z")),
        on=cols + ["y"],
    )
    tri = path.join(
        oriented.select(*cols, F.col("u").alias("x"), F.col("v").alias("z")),
        on=cols + ["x", "z"],
        how="left_semi",
    )
    grouped = tri.groupBy(*cols) if cols else tri.groupBy()
    return grouped.agg(F.count("*").cast("long").alias("n_triangles"))


def node_similarity(
    edges: DataFrame,
    min_shared: int = 1,
    max_dst_degree: int | None = None,
) -> DataFrame:
    """Neighborhood (out-neighbor) Jaccard similarity between node pairs
    — the GDS `nodeSimilarity` / FalkorDB `algo.similarity` shape.

    Returns (a, b, shared, deg_a, deg_b) with a < b, one row per pair
    sharing >= ``min_shared`` out-neighbors. All columns are exact
    BIGINTs so the cross-engine driver gate hash-compares bit-exactly;
    the float score is a final expression the caller derives::

        jaccard = shared / (deg_a + deg_b - shared)

    Scale shape: inverted-index self-join on ``dst`` — only pairs that
    actually co-cite a neighbor are materialized, never all-pairs. The
    join's row count is sum over dst of in_degree², so a viral hub dst
    is the one scale hazard; ``max_dst_degree`` drops dsts above the
    cap BEFORE the join (the same cap discipline as the LSH bucket cap
    in functions/dedup.py — a documented recall trade, not a silent
    truncation: degrees are recomputed over the capped edge list so
    Jaccard stays internally consistent). The reference has no graph
    analytics at all.
    """
    e = edges.select("src", "dst").dropDuplicates()
    if max_dst_degree is not None:
        hot = (
            e.groupBy("dst")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") > max_dst_degree)
            .select("dst")
        )
        e = e.join(hot, on="dst", how="left_anti")
    e = e.persist()
    deg = e.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    pairs = (
        e.select(F.col("src").alias("a"), "dst")
        .join(e.select(F.col("src").alias("b"), "dst"), on="dst")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("shared"))
        .filter(F.col("shared") >= int(min_shared))
    )
    out = (
        pairs.join(
            deg.select(F.col("src").alias("a"), F.col("deg").alias("deg_a")),
            on="a",
        )
        .join(
            deg.select(F.col("src").alias("b"), F.col("deg").alias("deg_b")),
            on="b",
        )
        .select("a", "b", "shared", "deg_a", "deg_b")
    )
    return out


def strongly_connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    max_rounds: int = 16,
    max_prop: int = 64,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph: (id, scc)
    with ``scc`` = the smallest member id of the component.

    The FW-BW *coloring* algorithm (Orzan; Slota et al.) — the standard
    distributed SCC decomposition, here as pure DataFrame rounds:

    1. **Trim** — a node with in-degree 0 or out-degree 0 in the
       remaining subgraph can sit in no cycle: it is a singleton SCC.
       Peeled iteratively (chains of dangling nodes unravel one layer
       per pass, like `k_core`'s peeling).
    2. **Color** — forward min-label propagation to fixpoint:
       ``color(v)`` = the smallest id that reaches v. Every color class
       is closed under "reached-by-root", and the root r (the node with
       ``color(r) == r``) is in the same SCC as exactly the nodes of
       its color that reach it BACK.
    3. **Backward sweep** — multi-source reverse reachability from all
       roots at once, restricted to edges whose BOTH endpoints carry
       the root's color. Everything reached = FW(r) ∩ BW(r) = SCC(r),
       for every root in parallel. Assign, remove, repeat.

    Directed min-label fixpoints alone are NOT sufficient (two nodes
    can agree on both forward and backward min labels without being
    mutually reachable — pinned in tests/test_graph_analytics), which
    is why the backward sweep is color-restricted reachability, not a
    label compare.

    Scale shape: every step is an equi-join + min-agg (or a semi/anti
    join) keyed on node id — no all-pairs, no driver data planes;
    `localCheckpoint` truncates lineage per round. Outer rounds peel at
    least one SCC per color root per pass; DAG-ish tails go through
    trim instead. Raises RuntimeError if ``max_rounds``/``max_prop``
    are exhausted before the decomposition completes — a partial SCC
    answer is wrong, never returned. The reference has no graph
    analytics; this implements the classic algo-library surface
    (/root/reference/graphrag_sdk/fixtures/prompts.py names the algo
    procedures broadly).
    """
    remaining = nodes.select("id").dropDuplicates().localCheckpoint()
    e_all = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates()
        .localCheckpoint()
    )
    done: list[DataFrame] = []

    for _ in range(max_rounds):
        if remaining.isEmpty():
            break
        # edges of the remaining subgraph
        e = (
            e_all.join(remaining.select(F.col("id").alias("src")), on="src", how="left_semi")
            .join(remaining.select(F.col("id").alias("dst")), on="dst", how="left_semi")
            .localCheckpoint()
        )

        # -- 1. trim: in-degree-0 / out-degree-0 nodes are singleton SCCs
        for _t in range(max_prop):
            no_in = remaining.join(
                e.select(F.col("dst").alias("id")), on="id", how="left_anti"
            )
            no_out = remaining.join(
                e.select(F.col("src").alias("id")), on="id", how="left_anti"
            )
            drop = no_in.unionByName(no_out).dropDuplicates()
            if drop.isEmpty():
                break
            done.append(
                drop.select("id", F.col("id").alias("scc")).localCheckpoint()
            )
            remaining = remaining.join(drop, on="id", how="left_anti").localCheckpoint()
            e = (
                e.join(drop.select(F.col("id").alias("src")), on="src", how="left_anti")
                .join(drop.select(F.col("id").alias("dst")), on="dst", how="left_anti")
                .localCheckpoint()
            )
        if remaining.isEmpty():
            break

        # -- 2. color: forward min-label fixpoint
        color = remaining.select("id", F.col("id").alias("color")).localCheckpoint()
        converged = False
        for _p in range(max_prop):
            pushed = (
                color.join(e, color.id == e.src)
                .select(F.col("dst").alias("id"), "color")
            )
            new_color = (
                color.unionByName(pushed)
                .groupBy("id")
                .agg(F.min("color").alias("color"))
                .localCheckpoint()
            )
            changed = new_color.alias("n").join(
                color.alias("o"), on="id"
            ).filter(F.col("n.color") < F.col("o.color"))
            if changed.isEmpty():
                converged = True
                color = new_color
                break
            color = new_color
        if not converged:
            raise RuntimeError(
                f"SCC coloring did not converge within max_prop={max_prop} "
                "propagation rounds; raise max_prop (bound ~ graph diameter)"
            )

        # -- 3. backward sweep from every root, color-restricted
        reached = color.filter(F.col("id") == F.col("color")).select(
            "id", F.col("color").alias("scc")
        ).localCheckpoint()
        for _b in range(max_prop):
            step = (
                e.join(
                    reached.select(F.col("id").alias("dst"), "scc"), on="dst"
                )
                .select(F.col("src").alias("id"), "scc")
                .join(
                    color.withColumnRenamed("color", "scc"),
                    on=["id", "scc"],
                    how="left_semi",
                )
                .join(reached.select("id"), on="id", how="left_anti")
                .dropDuplicates()
            )
            if step.isEmpty():
                break
            reached = reached.unionByName(step).localCheckpoint()
        else:
            raise RuntimeError(
                f"SCC backward sweep did not converge within max_prop={max_prop}"
            )
        done.append(reached)
        remaining = remaining.join(reached, on="id", how="left_anti").localCheckpoint()
    else:
        if not remaining.isEmpty():
            raise RuntimeError(
                f"SCC decomposition incomplete after max_rounds={max_rounds} "
                "FW-BW rounds; raise max_rounds (bound ~ #SCCs on the "
                "longest inter-SCC chain)"
            )

    if not done:
        return nodes.select("id", F.col("id").alias("scc")).limit(0)
    out = done[0]
    for d in done[1:]:
        out = out.unionByName(d)
    return out


def condensation(
    edges: DataFrame, scc: DataFrame
) -> DataFrame:
    """The condensation (SCC quotient DAG): one edge (src_scc, dst_scc)
    per pair of DISTINCT components connected by at least one original
    edge. Input ``scc`` is `strongly_connected_components` output
    (id, scc). The result is acyclic by construction — every cycle of
    the original graph is inside one component — which is what makes it
    the planning/reachability skeleton: downstream DAG-only analyses
    (topological layering, longest path) run on |SCCs| nodes instead of
    |V|. Two equi-joins + a distinct, nothing else."""
    s = scc.select(F.col("id").alias("src"), F.col("scc").alias("src_scc"))
    d = scc.select(F.col("id").alias("dst"), F.col("scc").alias("dst_scc"))
    return (
        edges.select("src", "dst")
        .join(s, on="src")
        .join(d, on="dst")
        .filter(F.col("src_scc") != F.col("dst_scc"))
        .select("src_scc", "dst_scc")
        .dropDuplicates()
    )


def topological_layers(
    edges: DataFrame, nodes: DataFrame, max_rounds: int = 64
) -> DataFrame:
    """DAG layering: (id, layer) with layer = the LONGEST path length
    from any source (in-degree-0 node) — i.e. the earliest parallel
    wave in which a task can run once all its dependencies ran. The
    scheduling primitive over `condensation` output (run SCC first;
    this raises on cycles rather than loop forever).

    Kahn-style iterative peeling: round t removes the current
    in-degree-0 set and stamps it layer t — one anti-join (who has no
    remaining in-edge) + two semi-joins (shrink the edge list) per
    round, `localCheckpoint` lineage truncation, early exit when the
    graph drains. Rounds = DAG depth, the same bounded-loop contract as
    `k_core`. If ``max_rounds`` passes leave nodes but no round
    removed them (or rounds run out), the remainder contains a cycle —
    RuntimeError, never a partial answer.
    """
    remaining = nodes.select("id").dropDuplicates().localCheckpoint()
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates()
        .join(remaining.select(F.col("id").alias("src")),
              on="src", how="left_semi")
        .join(remaining.select(F.col("id").alias("dst")),
              on="dst", how="left_semi")
        .localCheckpoint()
    )
    out: list[DataFrame] = []
    for layer in range(max_rounds):
        if remaining.isEmpty():
            break
        ready = remaining.join(
            e.select(F.col("dst").alias("id")), on="id", how="left_anti"
        ).localCheckpoint()
        if ready.isEmpty():
            raise RuntimeError(
                "cycle detected: no in-degree-0 node remains — run "
                "strongly_connected_components/condensation first"
            )
        out.append(
            ready.select("id", F.lit(layer).cast("long").alias("layer"))
        )
        remaining = remaining.join(ready, on="id", how="left_anti")
        e = (
            e.join(ready.select(F.col("id").alias("src")),
                   on="src", how="left_anti")
            .localCheckpoint()
        )
    else:
        if not remaining.isEmpty():
            raise RuntimeError(
                f"DAG deeper than max_rounds={max_rounds}; raise the bound"
            )
    if not out:
        return nodes.select("id", F.lit(0).cast("long").alias("layer")).limit(0)
    res = out[0]
    for d in out[1:]:
        res = res.unionByName(d)
    return res


def maximal_matching(
    edges: DataFrame, rounds: int | None = None, max_rounds: int = 32,
    seed: str = "mm",
) -> DataFrame:
    """Derandomized parallel greedy MAXIMAL MATCHING: -> (a, b), a
    vertex-disjoint edge set no alive edge can extend — the edge-side
    twin of `maximal_independent_set` (it IS the lexicographically-
    first MIS of the line graph). The ER/blocking workhorse: pick one
    pairing per entity out of a candidate-pair table in O(log m)
    coordination-free rounds.

    Each round an alive edge wins iff its priority is the strict
    minimum among alive edges at BOTH endpoints (priorities are
    md5('<seed>|a|b') + zero-padded ids — strictly distinct, so
    winners within a round are automatically vertex-disjoint and the
    whole result equals SEQUENTIAL greedy by ascending priority —
    pytest-pinned against that replay). Winners' endpoints leave the
    graph. Per round: one endpoint-min aggregate + two joins + two
    anti-joins, localCheckpoint hygiene; fixed ``rounds`` is the
    SQL-unrollable gate contract, ``rounds=None`` runs to maximality.
    Direction ignored (canonicalized a < b)."""
    fwd = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    und = (
        fwd.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .dropDuplicates()
    )
    pr = F.concat(
        F.md5(F.encode(
            F.concat_ws("|", F.lit(seed),
                        F.col("a").cast("string"),
                        F.col("b").cast("string")),
            "UTF-8",
        )),
        F.lpad(F.col("a").cast("string"), 20, "0"),
        F.lpad(F.col("b").cast("string"), 20, "0"),
    )
    e = und.select("a", "b", pr.alias("pr")).localCheckpoint()
    out: DataFrame | None = None
    n_rounds = rounds if rounds is not None else max_rounds
    for _ in range(n_rounds):
        if e.isEmpty():
            break
        inc = e.select(F.col("a").alias("v"), "pr").unionAll(
            e.select(F.col("b").alias("v"), "pr")
        )
        mn = inc.groupBy("v").agg(F.min("pr").alias("mn"))
        win = (
            e.join(
                mn.select(F.col("v").alias("a"), F.col("mn").alias("mna")),
                on="a",
            )
            .join(
                mn.select(F.col("v").alias("b"), F.col("mn").alias("mnb")),
                on="b",
            )
            .where((F.col("pr") == F.col("mna")) & (F.col("pr") == F.col("mnb")))
            .select("a", "b")
            .localCheckpoint()
        )
        out = win if out is None else out.unionByName(win).localCheckpoint()
        matched = (
            win.select(F.col("a").alias("v"))
            .unionByName(win.select(F.col("b").alias("v")))
            .dropDuplicates()
        )
        e = (
            e.join(matched.withColumnRenamed("v", "a"), on="a", how="left_anti")
            .join(matched.withColumnRenamed("v", "b"), on="b", how="left_anti")
            .localCheckpoint()
        )
    if out is None:
        return und.limit(0)
    return out.dropDuplicates()


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity sufficient statistics of an UNDIRECTED graph
    — one row of exact integer sums/determinants; the float Pearson
    coefficient r = slope_num / sqrt(slope_den * syy_det) derives at
    read time (Newman 2002, eq. 4, in its "Pearson over edge-endpoint
    degree pairs" form).

    Both orientations of every undirected edge contribute one
    (deg(u), deg(v)) sample, which makes the statistic symmetric in
    x/y exactly as Newman defines it. The heavy lifting is delegated to
    functions/regress.py::linfit_sums with an empty group list: ONE
    map-side-combining hash aggregate over the oriented edge list, six
    numbers of driver state, DECIMAL(38,0) accumulators (deg² sums at
    web scale exceed BIGINT). Scale shape: a degree groupBy + two
    equi-joins keyed on node id + the global agg — no all-pairs, no
    iteration. The reference has no graph analytics; this is the
    GDS/NetworkX `degree_assortativity_coefficient` surface.
    """
    from kgforge.functions.regress import linfit_sums

    und = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .dropDuplicates()
    )
    oriented = und.select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).unionAll(und.select(F.col("b").alias("u"), F.col("a").alias("v")))
    deg = oriented.groupBy("u").agg(F.count("*").cast("long").alias("deg"))
    samples = oriented.join(
        deg.select(F.col("u"), F.col("deg").alias("deg_u")), on="u"
    ).join(
        deg.select(F.col("u").alias("v"), F.col("deg").alias("deg_v")),
        on="v",
    )
    return linfit_sums(samples, [], "deg_u", "deg_v")


def reciprocity_counts(edges: DataFrame) -> DataFrame:
    """Directed-graph reciprocity as exact integer counts: ONE row
    (n_edges, n_reciprocated, n_self_loops). The float reciprocity
    ratio n_reciprocated / n_edges is a read-time expression.

    ``n_reciprocated`` counts ORDERED edges (u,v), u != v, whose
    reverse (v,u) is also present — i.e. both members of a mutual pair
    count, the NetworkX `reciprocity` convention. Scale shape: distinct
    edge set persisted once, reversed-key LEFT SEMI self-join (an
    existence probe, never a row multiplication), then one global agg.
    """
    from kgforge.cache import persist_tracked

    e = persist_tracked(edges.select("src", "dst").dropDuplicates())
    loops = e.where(F.col("src") == F.col("dst"))
    straight = e.where(F.col("src") != F.col("dst"))
    recip = straight.join(
        straight.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        ),
        on=["src", "dst"],
        how="left_semi",
    )
    return (
        straight.agg(F.count("*").cast("long").alias("n_edges"))
        .crossJoin(
            recip.agg(F.count("*").cast("long").alias("n_reciprocated"))
        )
        .crossJoin(
            loops.agg(F.count("*").cast("long").alias("n_self_loops"))
        )
    )


def link_prediction_scores(
    edges: DataFrame,
    min_common: int = 1,
    max_degree: int | None = None,
) -> DataFrame:
    """Common-neighbor link prediction over an undirected graph: for
    every CANDIDATE pair (a, b), a < b, that shares >= ``min_common``
    neighbors but is NOT an existing edge, emit the all-BIGINT score
    decomposition (a, b, common, deg_a, deg_b). The classic ranking
    scores derive at read time: common-neighbors = common, preferential
    attachment = deg_a * deg_b, Jaccard = common / (deg_a + deg_b -
    common) (Liben-Nowell & Kleinberg 2003).

    Scale shape: symmetrize once, then the wedge join is exactly
    node_similarity's inverted-index self-join (row count = sum over
    hub of degree² — ``max_degree`` caps viral hubs BEFORE the join,
    with degrees recomputed over the capped adjacency so scores stay
    internally consistent), then one LEFT ANTI join removes pairs that
    are already edges. No all-pairs, no iteration, no Python.
    """
    und = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .dropDuplicates()
    )
    adj = und.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(und.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    sim = node_similarity(
        adj, min_shared=min_common, max_dst_degree=max_degree
    ).withColumnRenamed("shared", "common")
    return sim.join(und, on=["a", "b"], how="left_anti")


def local_clustering(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation: (id, triangles, deg) — the
    all-BIGINT decomposition of the local clustering coefficient
    C(v) = 2·triangles / (deg·(deg−1)), which derives at read time
    (the betweenness_counts float-out-of-hash craft).

    Reuses `_edge_support`'s degree-oriented wedge join (k-truss's
    engine): each triangle appears in the support of its three edges;
    summing supports over a node's INCIDENT edges counts each of the
    node's triangles exactly twice (a triangle meets v through two
    incident edges), so triangles(v) = Σ_incident sup / 2 — exact
    integer division by construction. Shape: the one wedge join +
    an explode-to-endpoints aggregate; no per-node enumeration.
    """
    from kgforge.cache import persist_tracked

    und = persist_tracked(
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates()
    )
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    sup = _edge_support(und)
    inc = sup.select(F.col("a").alias("id"), "sup").unionByName(
        sup.select(F.col("b").alias("id"), "sup")
    )
    tri = inc.groupBy("id").agg(
        (F.sum("sup") / 2).cast("long").alias("triangles")
    )
    return deg.join(tri, on="id", how="left").select(
        "id",
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        "deg",
    )


def eccentricity(
    edges: DataFrame, landmarks: DataFrame, max_hops: int = 8
) -> DataFrame:
    """Bounded eccentricity per landmark: (id, ecc, n_reached).

    ecc(v) = max over reached nodes of the BFS distance from v (0 for an
    isolated landmark); max over all landmarks' ecc is the standard
    diameter lower bound (exact when landmarks = all nodes and max_hops
    >= the true diameter — the iFUB/sampling family's building block).
    Reuses `landmark_distances`' landmark-parallel BFS (all landmarks
    advance in each level's single equi-join), so the marginal cost over
    closeness/harmonic is one extra max aggregate. All-BIGINT output —
    cross-engine gates hash-compare it exactly.

    edges(src, dst) directed; symmetrize first for undirected semantics.
    Reference scope: the SDK has no analytics surface at all (its graph
    queries are LLM-generated Cypher, graph_query_step.py) — this is
    engine-new capability in the FalkorDB algo-procedure family.
    """
    d = landmark_distances(edges, landmarks, max_hops=max_hops)
    agg = d.groupBy("lm").agg(
        F.max("dist").cast("long").alias("ecc"),
        F.sum(F.when(F.col("dist") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_reached"),
    )
    return agg.select(F.col("lm").alias("id"), "ecc", "n_reached")


def diameter_bound(ecc: DataFrame) -> DataFrame:
    """1-row (diameter, radius) lower/upper summary from `eccentricity`
    output: diameter = max ecc, radius = min nonzero ecc (min over all
    when every landmark is isolated). Driver-scale aggregate."""
    return ecc.agg(
        F.max("ecc").cast("long").alias("diameter"),
        F.coalesce(
            F.min(F.when(F.col("ecc") > 0, F.col("ecc"))), F.max("ecc")
        ).cast("long").alias("radius"),
    )


def modularity_parts(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community modularity decomposition over a SYMMETRIZED edge
    list: (community, internal, degree_sum, contrib_num).

    Newman's Q = Σ_c [ internal_c/(2m) − (degree_sum_c/(2m))² ] where
    2m = |symmetrized edges|, internal_c = symmetrized edges with BOTH
    endpoints in c, degree_sum_c = symmetrized edges with src in c.
    Cross-multiplying by (2m)² gives the all-BIGINT per-community
    numerator contrib_num = internal_c·2m − degree_sum_c², so
    Q = Σ contrib_num / (2m)² — the float division happens once at read
    time on exact integers (the closeness/betweenness decomposition
    discipline; a gate hash-compares the BIGINTs).

    Shape: labels joined to the edge list twice (src then dst — both
    equi-joins on the node key; broadcast-eligible when the label table
    is small), one count per community, plus a 1-row total broadcast.
    No all-pairs work; survives 100× on the edge count.

    edges(src, dst) symmetrized; labels(id, community).
    """
    lab = labels.select("id", "community")
    e = edges.select("src", "dst")
    src_lab = e.join(lab, e.src == lab.id).select(
        F.col("community").alias("src_c"), "dst"
    )
    both = src_lab.join(
        lab, src_lab.dst == lab.id
    ).select("src_c", F.col("community").alias("dst_c"))
    deg = both.groupBy(F.col("src_c").alias("community")).agg(
        F.count("*").cast("long").alias("degree_sum")
    )
    internal = (
        both.filter(F.col("src_c") == F.col("dst_c"))
        .groupBy(F.col("src_c").alias("community"))
        .agg(F.count("*").cast("long").alias("internal"))
    )
    two_m = e.count()
    return (
        deg.join(internal, on="community", how="left")
        .select(
            "community",
            F.coalesce("internal", F.lit(0)).cast("long").alias("internal"),
            "degree_sum",
            (
                F.coalesce("internal", F.lit(0)) * F.lit(two_m)
                - F.col("degree_sum") * F.col("degree_sum")
            ).cast("long").alias("contrib_num"),
        )
    )


def modularity_score(edges: DataFrame, labels: DataFrame) -> float:
    """Scalar Q from `modularity_parts` — one exact-integer sum divided
    once (driver-side float; use the parts table in gates)."""
    parts = modularity_parts(edges, labels)
    two_m = edges.count()
    if two_m == 0:
        return 0.0
    num = parts.agg(F.sum("contrib_num")).collect()[0][0] or 0
    return float(num) / float(two_m * two_m)


def feature_propagation(
    edges: DataFrame,
    features: DataFrame,
    n_rounds: int = 2,
    feat_col: str = "f",
) -> DataFrame:
    """GNN-style neighborhood aggregation, k rounds: (id, f_sum, f_cnt)
    where round t replaces every node's state with the element-wise SUM
    of its in-neighbors' round-(t-1) states (self excluded; sources
    with no in-neighbors zero out). Unrolled, that is exactly the A^k
    walk semantics: after k rounds f_sum = Σ over length-k walks ending
    at v of f(walk start) and f_cnt = the number of such walks — the
    un-normalized SGC/"simplified GCN" propagation. The walk-averaged
    feature (GraphSAGE-mean analogue) is f_sum/f_cnt at read time —
    kept OUT of the stored state so every intermediate stays an exact
    BIGINT and a fixed-round gate hash-compares across engines (the
    pagerank fixed_point / closeness decomposition discipline; a stored
    mean would compound float division error round over round).

    Per round: ONE equi-join on src + one (dst) hash aggregate — the
    standard message-passing shape whose cost is |E| per round
    regardless of feature magnitude; `localCheckpoint` truncates
    lineage. edges(src, dst) directed (symmetrize for undirected);
    features(id, <feat_col>) integer-valued for the exact contract.

    Reference scope: engine-new — the feature side of the analytics
    family (random_walks generates DeepWalk corpora; this generates
    propagation features for the same downstream encoders).
    """
    state = features.select(
        "id",
        F.col(feat_col).cast("long").alias("f_sum"),
        F.lit(1).cast("long").alias("f_cnt"),
    ).localCheckpoint()
    e = edges.select("src", "dst")
    ids = features.select("id")
    for _ in range(n_rounds):
        msgs = state.join(e, state.id == e.src).select(
            F.col("dst").alias("id"), "f_sum", "f_cnt"
        )
        agg = msgs.groupBy("id").agg(
            F.sum("f_sum").cast("long").alias("f_sum"),
            F.sum("f_cnt").cast("long").alias("f_cnt"),
        )
        state = (
            ids.join(agg, on="id", how="left")
            .select(
                "id",
                F.coalesce("f_sum", F.lit(0)).cast("long").alias("f_sum"),
                F.coalesce("f_cnt", F.lit(0)).cast("long").alias("f_cnt"),
            )
            .localCheckpoint()
        )
    return state


def node2vec_walks(
    edges: DataFrame,
    walk_len: int,
    n_walks: int = 1,
    w_return: int = 1,
    w_common: int = 1,
    w_far: int = 1,
    seed: str = "kgforge",
    nodes: DataFrame | None = None,
) -> DataFrame:
    """node2vec-biased walk corpus (Grover & Leskovec): (walk_id,
    start, path) — like `random_walks` but the hop from (prev -> cur)
    weights each candidate w by the 2nd-order class: `w_return` if
    w == prev, `w_common` if w is adjacent to prev (a triangle step),
    `w_far` otherwise (BFS-ish when return/common dominate, DFS-ish
    when far dominates — the p/q dials as INTEGER weights, which is
    what keeps the draw cross-engine exact). First hop is uniform
    (no prev).

    The weighted draw replaces random_walks' argmin with a
    deterministic inverse-CDF pick: candidates sorted by dst id,
    cumulative integer weights, u = md5(seed|walk_id|step) as a 48-bit
    integer mod the walk's total weight, take the candidate whose
    [cum-w, cum) range holds u. No engine RNG anywhere — a pure
    function of (graph, seed), layout-independent, SQL-replayable.

    Per step: one frontier-edge equi-join + one LEFT join against the
    adjacency marker keyed on (prev, dst) — the classic node2vec
    adjacency-intersection cost, equi-join-shaped so it scales like
    every other per-round join here — plus one walk-partitioned window
    for the cumulative weights. Sinks carry their walk forward
    unchanged (early stop). edges(src, dst), symmetrize for
    undirected; duplicate edges are dropped (they would double a
    candidate's probability mass silently).
    """
    from pyspark.sql import Window

    if min(w_return, w_common, w_far) < 1:
        raise ValueError("node2vec_walks: weights must be >= 1 integers")
    e = edges.select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
    ).dropDuplicates()
    adj = e.select(
        F.col("src").alias("__a"),
        F.col("dst").alias("__b"),
        F.lit(1).alias("__adj"),
    )
    if nodes is None:
        starts = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
        )
    else:
        starts = nodes.select(F.col("id").cast("string").alias("id"))
    walks = starts.select(
        "id", F.explode(F.sequence(F.lit(0), F.lit(n_walks - 1))).alias("w")
    ).select(
        F.concat(F.col("id"), F.lit("#"), F.col("w").cast("string")).alias(
            "walk_id"
        ),
        F.col("id").alias("start"),
        F.lit(None).cast("string").alias("prev"),
        F.col("id").alias("cur"),
        F.array(F.col("id")).alias("path"),
    ).localCheckpoint()
    win_cum = (
        Window.partitionBy("walk_id")
        .orderBy("dst")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    win_tot = Window.partitionBy("walk_id")
    for step in range(walk_len):
        cand = (
            walks.join(e, walks.cur == e.src)
            .join(
                adj,
                (F.col("prev") == F.col("__a"))
                & (F.col("dst") == F.col("__b")),
                "left",
            )
            .select(
                "walk_id", "start", "prev", "cur", "dst", "path",
                F.when(F.col("prev").isNull(), 1)
                .when(F.col("dst") == F.col("prev"), w_return)
                .when(F.col("__adj").isNotNull(), w_common)
                .otherwise(w_far)
                .cast("long")
                .alias("__w"),
            )
        )
        t = cand.withColumns(
            {
                "__cum": F.sum("__w").over(win_cum),
                "__tot": F.sum("__w").over(win_tot),
            }
        )
        u = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(seed), F.lit("|"), F.col("walk_id"),
                            F.lit("|"), F.lit(str(step)),
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("long")
            % F.col("__tot")
        )
        picked = t.withColumn("__u", u).filter(
            (F.col("__cum") - F.col("__w") <= F.col("__u"))
            & (F.col("__u") < F.col("__cum"))
        )
        moved = picked.select(
            "walk_id",
            "start",
            F.col("cur").alias("prev"),
            F.col("dst").alias("cur"),
            F.concat("path", F.array("dst")).alias("path"),
        )
        stuck = walks.join(
            picked.select("walk_id"), on="walk_id", how="left_anti"
        ).select("walk_id", "start", "prev", "cur", "path")
        walks = moved.unionByName(stuck).localCheckpoint()
    return walks.select("walk_id", "start", "path")


def coreness(
    edges: DataFrame,
    nodes: DataFrame,
    n_rounds: int | None = None,
    max_rounds: int = 32,
) -> DataFrame:
    """Full core decomposition: (id, c) with c converging to the node's
    coreness (the largest k with the node inside the k-core) — the
    whole k-core profile in one run instead of one `k_core` call per k.

    Montresor et al.'s distributed h-index iteration: c0(v) = deg(v);
    each round c(v) = H-index of its neighbors' values (the largest h
    such that >= h neighbors have c >= h), which is monotonically
    non-increasing and reaches the exact coreness at a fixpoint. The
    H-index is pure relational algebra: rank each node's neighbor
    values descending, h = max(least(rank, value)) — one equi-join +
    one (node)-keyed window + one aggregate per round, the same
    per-round shape as LPA. Tie order inside the window cannot change
    the result (equal values at adjacent ranks give the same
    max-least). Fixed `n_rounds` is the cross-engine unroll contract
    (the k_core/LPA discipline); n_rounds=None iterates to the
    fixpoint with an anti-join convergence probe, `localCheckpoint`
    per round, and raises RuntimeError when `max_rounds` rounds pass
    without reaching it. Isolated nodes sit at 0. edges symmetrized by
    caller.
    """
    from pyspark.sql import Window

    e = edges.select("src", "dst")
    ids = nodes.select("id")
    deg = (
        ids.join(
            e.groupBy(F.col("src").alias("id")).agg(
                F.count("*").cast("long").alias("c")
            ),
            on="id",
            how="left",
        )
        .select("id", F.coalesce("c", F.lit(0)).cast("long").alias("c"))
        .localCheckpoint()
    )
    cur = deg
    w = Window.partitionBy("id").orderBy(F.col("cu").desc())
    rounds = n_rounds if n_rounds is not None else max_rounds
    for _ in range(rounds):
        nbr = cur.join(e, cur.id == e.src).select(
            F.col("dst").alias("id"), F.col("c").alias("cu")
        )
        h = (
            nbr.withColumn("rk", F.row_number().over(w))
            .groupBy("id")
            .agg(
                F.max(F.least(F.col("rk"), F.col("cu")))
                .cast("long")
                .alias("c")
            )
        )
        nxt = (
            ids.join(h, on="id", how="left")
            .select(
                "id", F.coalesce("c", F.lit(0)).cast("long").alias("c")
            )
            .localCheckpoint()
        )
        if n_rounds is None:
            changed = nxt.alias("a").join(
                cur.alias("b"),
                (F.col("a.id") == F.col("b.id"))
                & (F.col("a.c") != F.col("b.c")),
            )
            if changed.isEmpty():
                cur = nxt
                break
        cur = nxt
    else:
        if n_rounds is None:
            raise RuntimeError(
                f"coreness not converged after max_rounds={max_rounds} "
                "rounds (values tighten about one hop per round on long "
                "paths); raise max_rounds"
            )
    return cur
