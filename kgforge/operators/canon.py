"""Connected-components canonicalization (hash-to-min), SURVEY §2.3 J9.

A consequence of the reference's MERGE-on-unique-key semantics
(/root/reference/graphrag_sdk/steps/extract_data_step.py:222): all surface
forms of one real-world entity must collapse to one node id. Alias clusters
found by link.py close transitively here.

Hash-to-min over DataFrames: each vertex takes the minimum component id in
its neighborhood, then a pointer-jumping shortcut (component <-
component[component]) halves the remaining path each round, giving O(log n)
iterations overall. Per-iteration ``localCheckpoint`` truncates the
lineage chain so the plan does not grow with iterations — the standard Spark
iterative-algorithm hygiene (SURVEY §4).

The edges are symmetrized in one pass (each edge row explodes into both
directions), so the edge plan — for linking, the whole candidate-pair plan
with its scoring UDF — is evaluated once, by the count that materializes the
persisted symmetric edge set before the first iteration. Each iteration's checkpoint counts, through an
``Observation`` on the checkpointed plan, the vertices whose component moved
this round; convergence is read from that count, which the checkpoint's own
job computes, without joining the new checkpoint to the previous one or
scanning it again.

Alias clusters are stars/short chains (diameter <= ~4), so this converges in
2-3 rounds; `max_iter` guards pathological inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    max_iter: int = 15,
) -> DataFrame:
    """vertices(id long), edges(src long, dst long) -> (id, component).

    component = min vertex id of the connected component.
    """
    # symmetrize once; dedup to bound join width
    sym = (
        edges.select(
            F.inline(
                F.array(
                    F.struct("src", "dst"),
                    F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
                )
            )
        )
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .persist()
    )
    comp = vertices.select(
        F.col("id"), F.col("id").alias("component")
    ).localCheckpoint()
    # materialize the edge set in an action of its own: materialized inside
    # the first iteration's query, an empty edge set raced the vertex
    # exchange under adaptive execution, so that query's Spark job count
    # varied between identical runs. With no edges every vertex is its own
    # component and no iteration runs.
    if sym.count() == 0:
        sym.unpersist()
        return comp

    for _ in range(max_iter):
        # min component among neighbors
        nbr_min = (
            sym.join(comp, on=[sym.dst == comp.id])
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        stepped = comp.join(nbr_min, on=[comp.id == nbr_min.src], how="left").select(
            "id",
            F.col("component").alias("prev"),
            F.least(
                F.col("component"),
                F.coalesce(F.col("nbr_component"), F.col("component")),
            ).alias("component"),
        )
        # pointer jumping: component <- component[component]; turns the
        # O(diameter) min-propagation into O(log n) total iterations
        mapping = stepped.select(
            F.col("id").alias("cid"), F.col("component").alias("cc")
        )
        jumped = F.least(
            F.col("component"), F.coalesce(F.col("cc"), F.col("component"))
        )
        # the checkpoint action itself reports how many vertices moved:
        # no second pass over the checkpoint, no join to the previous one
        moved = Observation()
        comp = (
            stepped.join(mapping, stepped.component == mapping.cid, how="left")
            .select("id", "prev", jumped.alias("component"))
            .observe(moved, F.count_if(F.col("component") != F.col("prev")).alias("n"))
            .drop("prev")
            .localCheckpoint()
        )
        if moved.get["n"] == 0:
            break
    sym.unpersist()
    return comp


def survivorship(
    df: DataFrame,
    cluster_col: str,
    attr_cols: list[str],
) -> DataFrame:
    """Golden-record resolution over matched clusters: one row per
    cluster with each attribute resolved INDEPENDENTLY by majority vote
    over its non-null values, ties broken by the value's natural order
    (smallest wins) — fully deterministic, so the driver gate replays
    it in SQL. Returns (cluster_col, n_members, *attr_cols).

    The last mile of entity resolution: after blocking/matching
    (link.py, phonetic.fuzzy_join) and transitive clustering
    (connected_components above), the cluster's member records must
    collapse to ONE canonical row. Majority-with-deterministic-ties is
    the survivorship rule that needs no per-source trust model.

    Shape: per attribute one (cluster, value) count + window top-1 over
    a two-column projection, then cluster-keyed joins of the tiny
    resolved tables — k attributes cost k cheap passes, never a row
    explosion; an all-NULL attribute resolves to NULL (left join)."""
    from pyspark.sql import Window

    base = df.select(cluster_col, *attr_cols)
    out = base.groupBy(cluster_col).agg(
        F.count("*").cast("long").alias("n_members")
    )
    for a in attr_cols:
        w = Window.partitionBy(cluster_col).orderBy(
            F.col("__c").desc(), F.col(a).asc()
        )
        top = (
            base.select(cluster_col, a)
            .where(F.col(a).isNotNull())
            .groupBy(cluster_col, a)
            .agg(F.count("*").alias("__c"))
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(cluster_col, a)
        )
        out = out.join(top, on=cluster_col, how="left")
    return out


def pair_scores(
    records: DataFrame,
    id_col: str,
    block_cols: list[str],
    features: list[tuple[str, "F.Column", int]],
    min_score: int = 0,
    max_block: int = 10_000,
) -> DataFrame:
    """Blocked pairwise record-linkage scoring — the deterministic
    (integer-weight) Fellegi-Sunter shape that precedes transitive
    clustering: candidate pairs come ONLY from shared blocking keys,
    each pair scores the sum of per-feature agreement weights, and
    pairs at or above ``min_score`` survive as match candidates.

    ``features`` is ``[(name, column_expr, weight)]``; agreement is
    "both sides non-null AND equal" (a shared missing value is NOT
    evidence, the classical FS convention). Returns
    (id_a, id_b, agree_<name>..., score) — all-integer columns, so the
    driver gate hash-compares exactly; probabilistic m/u log-odds are a
    caller-side calibration of the same agreement vector.

    Scale shape: the self-join is keyed on the blocking columns — pair
    count is sum over blocks of |block|², never all-pairs. ``max_block``
    row-number-caps oversized blocks BEFORE the join (the LSH
    bucket-cap discipline from functions/dedup.py: a documented recall
    trade on skewed blocks, not a silent truncation — the cap keeps the
    ``id_col``-smallest members, deterministic). No Python, one
    Exchange per side on the block key.
    """
    from pyspark.sql import Window

    names = [n for n, _, _ in features]
    base = records.select(
        F.col(id_col).alias("__id"),
        *block_cols,
        *[c.alias(f"__f_{n}") for n, c, _ in features],
    )
    w = Window.partitionBy(*block_cols).orderBy("__id")
    base = (
        base.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= int(max_block))
        .drop("__rn")
    )
    a = base.alias("a")
    b = base.alias("b")
    pairs = a.join(b, on=block_cols).where(
        F.col("a.__id") < F.col("b.__id")
    )
    agrees = [
        (
            F.col(f"a.__f_{n}").isNotNull()
            & F.col(f"b.__f_{n}").isNotNull()
            & (F.col(f"a.__f_{n}") == F.col(f"b.__f_{n}"))
        )
        .cast("long")
        .alias(f"agree_{n}")
        for n, _, _ in features
    ]
    out = pairs.select(
        F.col("a.__id").alias("id_a"),
        F.col("b.__id").alias("id_b"),
        *agrees,
    )
    score = sum(
        (F.col(f"agree_{n}") * int(wt) for (n, _, wt) in features),
        F.lit(0).cast("long"),
    )
    out = out.withColumn("score", score.cast("long"))
    return out.where(F.col("score") >= int(min_score))
