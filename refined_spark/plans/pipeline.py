"""End-to-end entity-resolution pipeline (north-rule architecture, SURVEY §7.1):

documents ─ 0 validate (span invariant)
          ─ 1 mentions      explode + normalize           [repartition(block_key)]
          ─ 2 candidates    PEM blocking join (J1)
          ─ 3 coref         person-name propagation (J4)
          ─ 4 scored        prior + JW + cosine (C2/C4)
          ─ 5 resolved      argmax + threshold (C5/P7)
          ─ 6 clusters      group-by on the winner entity
          ─ 7 eval          pairwise F1 vs gold pairs

Every numbered stage commits a snapshot via StageStore (resume-safe); the
`run` entrypoint recomputes only uncommitted stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from refined_spark.functions.normalize import normalize_surface_udf
from refined_spark.operators import clustering, coref, metrics, pem, scoring, spans
from refined_spark.plans.snapshots import StageStore
from refined_spark.session import spread_scan

# canonical resume chain — committed on every path. The row-join scoring
# path additionally commits an intermediate "scored" stage between coref
# and resolved; the fused kernel emits resolved directly, so "scored" is
# not part of the resume contract.
STAGES = ["mentions", "candidates", "coref", "resolved", "clusters"]

# storeless run() persists the mentions frame (see below); release after the
# output is materialized. Long-lived sessions (streaming foreachBatch,
# notebooks) call this between runs; short-lived ones get it back at session
# teardown. It releases per-run frames only: the dictionary index (pem's
# persisted dictionary parts and entity-matrix broadcast) outlives it, so
# every run and micro-batch over one dictionary shares those parts.
_PERSISTED: list = []


def release_cache() -> None:
    from refined_spark.operators import blocking as _blocking

    while _PERSISTED:
        _PERSISTED.pop().unpersist()
    _blocking.release_cache()


def build_mentions(documents: DataFrame) -> DataFrame:
    m = spans.extract_mentions(documents)
    return m.withColumn("block_key", normalize_surface_udf(F.col("surface")))


def run(
    spark: SparkSession,
    documents: DataFrame,
    pem_df: DataFrame,
    entity_meta: DataFrame,
    entity_embeddings: DataFrame,
    human_qcodes: DataFrame,
    store: StageStore | None = None,
    salted: bool = False,
    lsh_blocking: bool = False,
    entity_classes: DataFrame | None = None,
    subclass_edges: DataFrame | None = None,
    class_vocab: list[str] | None = None,
    typing_threshold: float = 0.5,
) -> DataFrame:
    """Returns (mention_id, doc_id, block_key, offset, qcode, score,
    cluster_id[, failed_class_check]). With a StageStore, each stage is
    committed/resumable.

    Typing stage (opt-in, C3 -> T3/T4/T5): when entity_classes +
    subclass_edges + class_vocab are given, each doc's context embedding
    is typed (operators.classes.predict_types), the subclass closure is
    computed once (T3), and every non-NIL winner gets the reference's
    class-consistency flag (class_handler.py:104-118 semantics;
    applied at processor.py:347-361)."""

    def stage(name: str, make, repartition_by: str | None = None) -> DataFrame:
        if store is None:
            return make()
        if store.is_committed(name):
            return store.read(spark, name)
        return store.commit(make(), name, repartition_by=repartition_by)

    # the normalize and doc-text UDFs run before the first shuffle
    documents = spread_scan(documents)

    mentions = stage("mentions", lambda: build_mentions(documents), "block_key")
    if store is None:
        # two consumers read this frame (the candidate join and the fused
        # scorer's winner-attribute rejoin); without a snapshot each would
        # recompute the explode + normalize Python UDF over every mention.
        # The StageStore path gets this for free from the committed parquet
        # — persist() is the storeless equivalent (MEMORY_AND_DISK default:
        # spills, never recomputes).
        mentions = mentions.persist()
        _PERSISTED.append(mentions)

    # the jaro-winkler feature is a dictionary attribute (pem.dictionary):
    # candidates arrive pre-scored on the string kernel, so scoring is a
    # single linear pass and `merged` is consumed exactly once — no
    # materialization needed between coref and scoring
    if salted:
        candidates = stage(
            "candidates",
            lambda: pem.candidate_join_salted(mentions, pem_df, entity_meta=entity_meta),
        )
    elif lsh_blocking:
        # two-channel blocking (north star): exact alias keys first, then
        # MinHash-LSH bands over mention n-grams for the exact-miss tail
        from refined_spark.operators import blocking

        # per-run registry: the eager release below must drop exactly the
        # two channel caches THIS run created — module-level release_cache
        # would also unpersist a concurrent storeless run's caches
        blocking_caches: list = []
        candidates = stage(
            "candidates",
            lambda: blocking.candidate_join_with_lsh_fallback(
                mentions, pem_df, entity_meta=entity_meta,
                cache_registry=blocking_caches,
            ),
        )
        if store is not None:
            # the candidates snapshot is committed — the two channel
            # caches inside the fallback join are dead weight from here
            while blocking_caches:
                blocking_caches.pop().unpersist()
        else:
            # storeless: keep them alive until release_cache(), same
            # lifetime as the module default
            blocking._PERSISTED.extend(blocking_caches)
            blocking_caches.clear()
    else:
        candidates = stage(
            "candidates",
            lambda: pem.candidate_join(mentions, pem_df, entity_meta=entity_meta),
        )

    # coref is doc-local: one exchange on doc_id into as many partitions as
    # a commit writes, so its snapshot is already row-balanced
    merged = stage(
        "coref",
        lambda: coref.propagate_person_coref(
            candidates, human_qcodes, entity_meta=entity_meta
        ),
    )

    # scoring path selection (size-aware, like the broadcast policy): the
    # fused cogrouped kernel needs the entity matrix on the driver — legal
    # only at dictionary scale (EMB_BROADCAST_MAX_BYTES); beyond that the
    # row-join plan is the only safe shape. The policy reads Catalyst
    # plan statistics only (fused_policy_ok — no Spark job before the
    # pipeline's first real action), and score_resolve_fused returns None
    # instead of raising if the collected matrix still lands over budget,
    # so an optimistic estimate degrades to the row-join plan, never to a
    # crash.
    def make_scored():
        ctx = scoring.mention_window_embeddings(documents)
        return scoring.score_candidates(
            merged, entity_meta, entity_embeddings, ctx
        )

    if scoring.fused_policy_ok(entity_embeddings):
        def make_resolved():
            ctx = scoring.mention_window_embeddings(documents)
            r = scoring.score_resolve_fused(
                merged, entity_embeddings, ctx, mentions=mentions
            )
            if r is None:  # over the driver-collect budget after all
                r = scoring.resolve(make_scored())
            return r

        resolved = stage("resolved", make_resolved)
    else:
        scored = stage("scored", make_scored)
        resolved = stage("resolved", lambda: scoring.resolve(scored))
    if store is None:
        # resolved feeds both the clustering aggregation and the final
        # join — cache it so the upstream computes once. A LAZY persist (not
        # an eager localCheckpoint): the cache fills inside the first job
        # that reads it instead of as a separate full-pipeline driver
        # barrier, and later reads hit the filled cache. persist (vs
        # localCheckpoint) keeps lineage, which local mode never needs
        # truncated here.
        resolved = resolved.persist()
        _PERSISTED.append(resolved)
    clusters = stage("clusters", lambda: clustering.cluster_assignments(resolved))

    out = resolved.join(clusters, "mention_id")

    if entity_classes is not None and class_vocab is not None:
        from refined_spark.operators import classes as classes_mod
        from refined_spark.operators.closure import (
            class_consistency_flag,
            transitive_closure,
        )

        emb_dim = len(
            scoring.hash_embed_batch([""])[0]  # fixture embedding width
        )
        ctx = scoring.mention_context_embeddings(spans.doc_text(documents))
        ptypes = classes_mod.predict_types(
            ctx, class_vocab, emb_dim, threshold=typing_threshold
        )
        # mention-level predicted types = its doc's predicted types (the
        # doc-context featurizer is shared with scoring)
        m_types = out.select("mention_id", "doc_id").join(
            ptypes, "doc_id"
        ).select("mention_id", "class_id")
        implied = (
            transitive_closure(subclass_edges)
            if subclass_edges is not None
            else spark.createDataFrame([], "child string, ancestor string")
        )
        winners = out.where(F.col("qcode").isNotNull()).select(
            "mention_id", "qcode"
        )
        flags = class_consistency_flag(
            winners, entity_classes, implied, m_types
        ).select("mention_id", "failed_class_check")
        out = out.join(flags, "mention_id", "left")

    return out


def evaluate(
    resolved_clusters: DataFrame,
    gold_mentions: DataFrame,
    candidates: DataFrame | None = None,
) -> dict:
    """Pairwise F1 of predicted clusters vs gold entity labels, restricted
    to pairs at the same blocking key (north-rule metric).

    With `candidates` (one row per (mention_id, qcode) from the blocking
    stage), also reports the J9 gold-recall counter
    (evaluation.py:40-41): how many gold mentions had their gold entity
    retrieved at all — separating blocking misses from scoring misses."""
    pred = metrics.cluster_pairs(
        resolved_clusters.where(F.col("qcode").isNotNull()).select(
            "mention_id", "cluster_id", "block_key"
        )
    )
    gold = metrics.pairs_within(
        gold_mentions.select("mention_id", "gold_qcode", "block_key"),
        ["gold_qcode", "block_key"],
    )
    out = metrics.pairwise_f1_df(pred, gold)
    if candidates is not None:
        row = metrics.gold_recall(
            gold_mentions.select(
                "mention_id", F.col("gold_qcode").alias("qcode")
            ),
            candidates.where(F.col("qcode").isNotNull()).select(
                "mention_id", "qcode"
            ),
        ).collect()[0]
        out["n_gold"] = int(row["n_gold"])
        out["n_gold_in_candidates"] = int(row["n_gold_in_candidates"])
        out["gold_recall"] = float(row["gold_recall"])
    return out
