"""Connected components: large-star/small-star vs known graphs (cc_goldens)."""

import pyspark.sql.functions as F

from refined_spark.operators.clustering import (
    cluster_assignments,
    connected_components,
)


def _components(spark, edges, check_every=2):
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = connected_components(df, check_every=check_every).collect()
    comp = {}
    for r in rows:
        comp.setdefault(r.component, set()).add(r.node)
    return sorted(sorted(v) for v in comp.values())


def test_chain(spark):
    assert _components(spark, [(1, 2), (2, 3), (3, 4), (4, 5)]) == [[1, 2, 3, 4, 5]]


def test_star(spark):
    assert _components(spark, [(10, i) for i in range(1, 8)]) == [[1, 2, 3, 4, 5, 6, 7, 10]]


def test_two_components(spark):
    assert _components(spark, [(1, 2), (2, 3), (10, 11)]) == [[1, 2, 3], [10, 11]]


def test_self_loop_and_dups(spark):
    assert _components(spark, [(1, 1), (1, 2), (2, 1), (1, 2)]) == [[1, 2]]


def test_long_path_log_rounds(spark):
    # a 64-node path converges within the round budget
    edges = [(i, i + 1) for i in range(64)]
    assert _components(spark, edges) == [list(range(65))]


def test_multi_parent_round_output_not_accepted_as_converged(spark):
    """Regression: path 1-10-3-20-2 is ONE component, but after one
    large+small round the edge set is {(3,1),(3,2),(10,1),(20,2)} — node 3
    has TWO parents. That state passes the naive 'no node is both child and
    parent' test, and stopping there splits {2,20} from {1,3,10}. The
    convergence test must also require one parent per child.
    check_every=1 checks after EVERY round — the premature-stop shape the
    forest test must reject (the batched default would mask a broken test
    by happening to check only at even rounds)."""
    assert _components(
        spark, [(10, 1), (10, 3), (20, 3), (20, 2)], check_every=1
    ) == [[1, 2, 3, 10, 20]]


def test_bridge_between_two_stars(spark):
    # two hub stars joined by a bridge node — another multi-parent shape
    edges = [(100, i) for i in range(1, 5)] + [(200, i) for i in range(5, 9)]
    edges += [(100, 50), (200, 50)]
    assert _components(spark, edges) == [[1, 2, 3, 4, 5, 6, 7, 8, 50, 100, 200]]


def test_check_every_batching_is_invariant(spark):
    # batching rounds between convergence checks must never change the
    # result (a converged forest is a fixpoint, so overshooting is a no-op)
    edges = [(i, i + 1) for i in range(20)] + [(100, i) for i in range(30, 35)]
    expected = _components(spark, edges, check_every=1)
    assert _components(spark, edges, check_every=3) == expected


def test_component_label_is_min_id(spark):
    df = spark.createDataFrame([(5, 9), (9, 3)], "src long, dst long")
    rows = connected_components(df).collect()
    assert {r.component for r in rows} == {3}


def test_cluster_assignments_matches_star_connected_components(spark):
    """The group-by clusters equal the tested CC loop run over the
    mention<->entity star edges. The input has NIL mentions, a singleton
    entity, a large hub, and ids suffixed per shard."""
    base = [("m1", "Q1"), ("m2", "Q1"), ("m3", "Q2"), ("m4", None),
            ("m5", "Q2"), ("m6", "Q3"), ("m7", None)]
    base += [(f"h{i}", "QH") for i in range(40)]
    rows = [(f"{m}#{s}", f"{q}#{s}" if q else None)
            for s in range(3) for m, q in base]
    resolved = spark.createDataFrame(rows, "mention_id string, qcode string")

    m = resolved.select("mention_id", "qcode",
                        F.xxhash64("mention_id").alias("mid"))
    edges = m.where(F.col("qcode").isNotNull()).select(
        F.col("mid").alias("src"),
        F.xxhash64(F.lit("ENT:"), "qcode").alias("dst"),
    )
    comp = connected_components(edges)
    want = {
        r.mention_id: r.cluster_id
        for r in m.join(comp, m["mid"] == comp["node"], "left").select(
            "mention_id",
            F.coalesce("component", "mid").alias("cluster_id"),
        ).collect()
    }
    out = cluster_assignments(resolved).collect()
    assert len(out) == len(rows)
    got = {r.mention_id: r.cluster_id for r in out}
    assert got == want
    # same-entity mentions co-cluster within a shard, never across shards
    for s in range(3):
        assert got[f"m1#{s}"] == got[f"m2#{s}"]
        assert got[f"m3#{s}"] == got[f"m5#{s}"]
        assert len({got[f"h{i}#{s}"] for i in range(40)}) == 1
        assert got[f"m4#{s}"] != got[f"m7#{s}"]
    shards_of = {}
    for mention, cid in got.items():
        shards_of.setdefault(cid, set()).add(mention.split("#")[1])
    assert all(len(v) == 1 for v in shards_of.values())
    # 4 entities and 2 NIL singletons per shard
    assert len(shards_of) == 3 * 6
