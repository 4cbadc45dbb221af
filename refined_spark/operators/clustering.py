"""Clustering: winner-entity clusters and distributed connected components.

`cluster_assignments` is the transitive-clustering stage of the north
rule. Every resolved mention has at most one winner entity, so the
mention<->entity graph is a forest of stars and its components are the
qcode groups: one hash aggregation gives them, no iterative job.

`connected_components` serves graphs whose shape is not known in advance —
the near-dup evidence edges of dedup.near_dup_clusters. It implements the
alternating large-star/small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) on plain DataFrames:

    large-star: for each edge (u,v) emit (min_nbr(u) plus u's larger
                neighbors -> link them to u's current min); keeps high-degree
                stars shallow.
    small-star: link each node's smaller-or-equal neighbors to its minimum.

Converges in O(log n) rounds; every round is one groupBy + one join, with
localCheckpoint() to truncate lineage (Catalyst cannot express the fixpoint,
SURVEY.md §4(b)). Node ids are longs; callers map arbitrary keys to longs
via xxhash64 or a dictionary. Self-loops and duplicate edges are tolerated.

Convergence test (absolute, no compare-with-previous round): the oriented
edge set is a depth-1 star forest iff
  (a) no node appears as both a child (src) and a parent (dst), AND
  (b) every child has exactly ONE parent row.
Condition (b) is essential: small-star can emit a child under two different
parents (the child was a smaller-neighbor of two larger nodes with distinct
minima), and that state passes test (a) while NOT being a fixpoint —
stopping there splits true components (regression: path 1-10-3-20-2 in
tests/test_clustering.py). With both conditions the set is a genuine
function child -> parent whose parents are never children, which IS a
fixpoint of large-star∘small-star, so no confirmation round is needed.

At 100 TB scale the dominant cost is the per-round shuffle on node id; both
stars are plain hash aggregations (no skew beyond true graph structure;
large-star specifically exists to break up high-degree hubs). The round
output is hash-partitioned BY src (repartition before the set-dedup, which
Catalyst satisfies with the src-only partitioning since src is a prefix of
the dedup key), so the convergence aggregation and the final assembly reuse
the partitioning without extra exchanges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star over the UNDIRECTED graph: symmetrize, then for each u
    with neighborhood Γ(u): m = min(Γ(u) ∪ {u}); emit (v, m) for every
    strictly larger neighbor v > u. Keeps high-degree hubs shallow.
    Output may contain duplicates — the next stage's aggregation dedups;
    skipping the distinct here saves one shuffle per round. Every emitted
    row already satisfies src > dst (v > u >= m)."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).where(F.col("src") != F.col("dst"))
    nbrs = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("mn"), F.collect_set("dst").alias("ns"))
        .select("src", F.least(F.col("mn"), F.col("src")).alias("m"), "ns")
    )
    return (
        nbrs.select("src", "m", F.explode("ns").alias("v"))
        .where(F.col("v") > F.col("src"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: orient each edge toward its smaller endpoint; for each u
    with smaller-neighborhood Γ⁻(u): m = min(Γ⁻(u)); emit (v, m) for
    v ∈ Γ⁻(u) ∪ {u}, v ≠ m. Output IS distinct (set semantics needed by
    the convergence test) and hash-partitioned by src: the repartition
    replaces the exchange the distinct would have inserted anyway (same
    shuffle count — src is a prefix of the dedup key, so Catalyst adds no
    second exchange) and leaves the result partitioned so downstream
    per-src aggregations are exchange-free."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    nbrs = oriented.groupBy("src").agg(
        F.min("dst").alias("m"), F.collect_set("dst").alias("ns")
    )
    out = nbrs.select("src", "m", F.explode("ns").alias("v")).select(
        F.col("v").alias("src"), F.col("m").alias("dst")
    )
    self_link = nbrs.select(F.col("src"), F.col("m").alias("dst"))
    return (
        out.unionByName(self_link)
        .where(F.col("src") != F.col("dst"))
        .repartition("src")
        .distinct()
    )


def _violation_count(after: DataFrame) -> int:
    """Single-pass forest test: explode each edge into (v, child?, parent?)
    roles and aggregate once — violation iff a node has >1 child rows (not
    a function) or appears as both child and parent (depth > 1). One job,
    one shuffle; running it against a lazily-checkpointed round output
    materializes the checkpoint in the SAME job, so each CC round costs
    exactly one driver barrier instead of two (eager checkpoint +
    isEmpty)."""
    roles = after.select(
        F.col("src").alias("v"), F.lit(1).alias("c"), F.lit(0).alias("p")
    ).unionByName(
        after.select(F.col("dst").alias("v"), F.lit(0).alias("c"),
                     F.lit(1).alias("p"))
    )
    per_node = roles.groupBy("v").agg(
        F.sum("c").alias("nc"), F.max("p").alias("isp")
    )
    bad = per_node.where(
        (F.col("nc") > 1) | ((F.col("nc") >= 1) & (F.col("isp") == 1))
    )
    return bad.count()


def connected_components(
    edges: DataFrame,
    max_rounds: int = 30,
    check_every: int = 2,
) -> DataFrame:
    """edges(src long, dst long) -> (node long, component long) where
    component is the minimum node id of the component. Isolated nodes do not
    appear (callers union them back with component = own id).

    Each round is checkpointed (localCheckpoint locally; swap for reliable
    checkpoint/Iceberg snapshot on a cluster) — this bounds lineage AND works
    around a Spark 4.1 AttributeMap bug when checkpointing plans that union
    a frame with a derivation of itself. The INITIAL edge set is checkpointed
    lazily (eager=False): it materializes inside round 1's job instead of as
    a separate serial driver barrier.

    The input is deduped up front (the stars tolerate duplicate edges, but
    deduping keeps per-round volume minimal). Orienting (greatest, least)
    first makes a separate symmetrize pass unnecessary: the undirected edge
    set is fully described by its canonical orientation.

    On convergence the result is assembled WITHOUT a global aggregation:
    the forest rows are already one-per-child, and roots (parents) never
    appear as children, so (children ∪ roots) has unique nodes by
    construction — the old groupBy(node).min() full shuffle is dropped.

    check_every batches that many large∘small rounds into ONE job before
    the convergence test runs: the per-round serial costs — the driver
    barrier, job scheduling, and the forest-test pass itself (a union +
    groupBy over the full edge set) — are what cap N -> 4N scaling (round
    count does not drop with cores), so halving their number roughly halves
    the non-scaling fraction. Overshooting costs only no-op rounds: a
    depth-1 star forest is a fixpoint of large-star∘small-star, so extra
    rounds re-emit the forest unchanged (two cheap shuffles), while every
    skipped check saves a full forest-test aggregation.

    Raises RuntimeError if max_rounds is exhausted before convergence
    (returning the unconverged state could silently split components)."""
    cur = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    cur = cur.distinct().localCheckpoint(eager=False)
    converged = False
    rounds_done = 0
    while rounds_done < max_rounds:
        # k fused rounds, then a lazy checkpoint + single-pass forest test:
        # ONE job materializes the batch AND answers convergence (was: one
        # eager checkpoint job + one isEmpty job PER ROUND)
        after = cur
        for _ in range(min(check_every, max_rounds - rounds_done)):
            after = _small_star(_large_star(after))
            rounds_done += 1
        after = after.localCheckpoint(eager=False)
        cur = after
        if _violation_count(after) == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    # cur is a forest of depth 1: (node -> root), one row per node, and no
    # root appears as a node — the union below is duplicate-free.
    comp = cur.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = (
        cur.select("dst").distinct()
        .select(F.col("dst").alias("node"), F.col("dst").alias("component"))
    )
    return comp.unionByName(roots)


def cluster_assignments(resolved: DataFrame) -> DataFrame:
    """North-rule stage 6: mentions sharing a resolved entity become one
    cluster. Returns (mention_id, cluster_id); a NIL mention is a singleton
    with cluster_id = xxhash64(mention_id).

    The ids are those of connected components over the mention<->entity
    star edges (xxhash64(mention_id) -- xxhash64("ENT:", qcode)): each star
    is one component labelled with its minimum node id, so
    cluster_id = least(min xxhash64(mention_id), xxhash64("ENT:", qcode))
    per qcode. A groupBy computes that with partial aggregation, so a hot
    entity costs one row per map task before the shuffle (a window over
    qcode would put all its mentions in one task). The per-entity side of
    the join back is one row per entity: broadcast where it fits, and
    AQE's skew-join split covers a hot qcode where it does not. NIL
    mentions skip the aggregation and the join: as null join keys they
    would all hash to one shuffle partition."""
    m = resolved.select(
        "mention_id", "qcode", F.xxhash64("mention_id").alias("mid")
    )
    hit = m.where(F.col("qcode").isNotNull())
    per_entity = hit.groupBy("qcode").agg(
        F.least(
            F.min("mid"), F.xxhash64(F.lit("ENT:"), F.col("qcode"))
        ).alias("cluster_id")
    )
    nil = m.where(F.col("qcode").isNull()).select(
        "mention_id", F.col("mid").alias("cluster_id")
    )
    return (
        hit.join(per_entity, "qcode")
        .select("mention_id", "cluster_id")
        .unionByName(nil)
    )
