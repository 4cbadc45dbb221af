"""Evaluation: pairwise precision/recall/F1 via set-operation joins.

The reference computes tp/fp/fn by Python set algebra per document
(/root/reference/src/refined/evaluation/evaluation.py:94-105) and folds a
Metrics monoid (metrics.py:22-36). Distributed, tp is an inner join,
fp/fn are anti-joins, and the fold is groupBy().agg(sum) — operators J7/T1/A6.

Pair universe (north rule): unordered mention pairs that share a blocking
key. Pairs are generated per (cluster, block_key) group with a self-join,
never driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pairs_within(assign: DataFrame, group_cols: list[str]) -> DataFrame:
    """assign -> all unordered pairs (a, b), a < b, within each group.
    Self-join on the group key; skew note: a group of size g emits g²/2
    pairs — the evaluation universe is per blocking key, which the fixture
    keeps bounded; at web scale cap group size or sample (reference
    evaluates bounded datasets too)."""
    left = assign.select(*group_cols, F.col("mention_id").alias("a"))
    right = assign.select(*group_cols, F.col("mention_id").alias("b"))
    return (
        left.join(right, group_cols)
        .where(F.col("a") < F.col("b"))
        .select(F.col("a").alias("mention_a"), F.col("b").alias("mention_b"))
    )


def pairwise_f1_df(pred_pairs: DataFrame, gold_pairs: DataFrame) -> dict:
    """tp/fp/fn/precision/recall/f1 via semi/anti joins (J7/T1)."""
    keys = ["mention_a", "mention_b"]
    tp = pred_pairs.join(gold_pairs, keys, "left_semi").count()
    fp = pred_pairs.join(gold_pairs, keys, "left_anti").count()
    fn = gold_pairs.join(pred_pairs, keys, "left_anti").count()
    p = tp / (tp + fp) if tp + fp else 1.0
    r = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": p, "recall": r, "f1": f1}


def cluster_pairs(assign_with_block: DataFrame) -> DataFrame:
    """(mention_id, cluster_id, block_key) -> unordered same-cluster,
    same-block-key pairs."""
    return pairs_within(assign_with_block, ["cluster_id", "block_key"])


def filter_nil_spans(predictions: DataFrame, md_spans: DataFrame) -> DataFrame:
    """Operator P8 — drop predictions that align with dataset NIL spans
    (/root/reference/src/refined/evaluation/evaluation.py:84-92: mentions
    annotated in the dataset but not linked to any KB entity; models are
    unfairly penalized for linking them, hence the published
    filter_nil_spans=True AIDA number). A NIL span is an md_span with no
    gold qcode; alignment is on (doc, span text, start). One anti-join."""
    nil = md_spans.where(F.col("qcode").isNull()).select(
        "doc_id", "span_text", "start"
    )
    return predictions.join(nil, ["doc_id", "span_text", "start"], "left_anti")


def gold_recall(gold_spans: DataFrame, candidates: DataFrame) -> DataFrame:
    """Operator J9 — the gold-in-candidates counter
    (/root/reference/src/refined/evaluation/evaluation.py:40-41): of the
    gold-labeled mentions, how many have their gold entity among the
    generated candidates? Separates blocking misses (gold never retrieved)
    from scoring misses (retrieved but out-scored).

    gold_spans: (mention_id, qcode) gold labels;
    candidates: (mention_id, qcode) one row per candidate.
    Returns one row: (n_gold, n_gold_in_candidates, gold_recall).
    Plan: one semi-join + two counts folded into a single aggregate."""
    g = gold_spans.select("mention_id", F.col("qcode").alias("gold_qcode"))
    # semi-join direction flipped vs the naive g ⋉ candidates: a left-semi
    # can only build its RIGHT side, so the old orientation forced the
    # candidate table (the corpus-scale side) through a sort-merge
    # shuffle. Streaming candidates against the gold build side keeps the
    # big side unshuffled; the distinct then reduces only matched rows.
    # Identical result for per-mention-unique gold (the operator
    # contract): hit mentions = {m : (m, gold_qcode(m)) ∈ candidates}.
    hit = (
        candidates.select("mention_id", F.col("qcode").alias("gold_qcode"))
        .join(g, ["mention_id", "gold_qcode"], "left_semi")
        .select("mention_id")
        .distinct()
        .withColumn("in_cands", F.lit(1))
    )
    return (
        g.join(hit, "mention_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_gold"),
            F.coalesce(F.sum("in_cands"), F.lit(0)).alias("n_gold_in_candidates"),
        )
        .select(
            "n_gold",
            "n_gold_in_candidates",
            F.round(
                F.col("n_gold_in_candidates") / F.col("n_gold"), 6
            ).alias("gold_recall"),
        )
    )
