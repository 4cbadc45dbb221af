"""Pure-Python oracle: the reference's per-mention decision rule, applied
row-at-a-time with no Spark. The pipeline's distributed output must match
this oracle's clusters with pairwise F1 >= 0.99 (SURVEY.md §5.3).

Decision rule per mention (reference semantics, re-expressed):
  1. block_key = normalize_surface(surface)            (F1, loaders.py:137-148)
  2. candidates = PEM[block_key]                       (J1, candidate_generator.py:62-72)
  3. person-coref, backward (order-free) two-pass      (J4, candidate_generator.py:55-92):
       donors  = mentions in the same doc whose block_key has >= 2 tokens and
                 whose candidate list contains a human qcode with prior > COREF_FLOOR
       receivers = mentions in the same doc whose block_key is a single token
                 that appears among a donor's name tokens
       donation = (qcode, min(prior, COREF_CAP)); merge with direct candidates
                 keeping max prior per qcode
  4. features: prior, jaro_winkler(block_key, norm(label)),
     lev_sim(block_key, norm(label)), cosine(mention_emb, entity_emb) —
     mention_emb hashes the text spans within +/-CTX_WINDOW of the
     mention's span offset (C1: per-mention windows, reference
     refined_model.py:345-380; NOT the whole document)
  5. score = W_PRIOR*prior + W_JW*jw + W_LEV*lev + W_COS*max(cos, 0)
  6. winner = argmax score (ties -> smaller numeric qcode); NIL if score < ED_THRESHOLD
Clusters = connected components over mentions sharing a winner entity.
"""

from __future__ import annotations

from collections import defaultdict

from refined_spark.config import (
    COREF_CAP,
    COREF_FLOOR,
    CTX_WINDOW,
    ED_THRESHOLD,
    MAX_CANDIDATES,
    W_COS,
    W_JW,
    W_LEV,
    W_PRIOR,
)
from refined_spark.fixtures import hash_embed
from refined_spark.functions.normalize import normalize_surface_py
from refined_spark.functions.similarity import jaro_winkler_py, lev_sim_py


def seq_dot(a, b) -> float:
    """Left-to-right sequential dot product — mirrors Spark's F.aggregate
    fold order so engine and oracle agree to the last ulp."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def seq_norm(a) -> float:
    acc = 0.0
    for x in a:
        acc += float(x) * float(x)
    return acc ** 0.5


def cosine(a, b) -> float:
    na, nb = seq_norm(a), seq_norm(b)
    if na == 0.0 or nb == 0.0:
        return 0.0
    return seq_dot(a, b) / (na * nb)


def mention_window_text(
    text_spans: list[tuple[int, str]], offset: int, k: int = CTX_WINDOW
) -> str:
    """Per-mention context window: the offset-ordered text spans whose
    offset lies within +/-k of the mention's span offset, joined by ' ' —
    the exact rule spans.mention_window_texts evaluates JVM-side."""
    return " ".join(
        t for o, t in text_spans if offset - k <= o <= offset + k
    )


def person_coref(
    ms: list[dict], human_qcodes: set[str]
) -> dict[str, dict[str, float]]:
    """J4 on one document, backward (order-free) two-pass. ms: the doc's
    mentions, each {mention_id, block_key, cands: [(qcode, prior)]}.
    Returns mention_id -> {qcode: prior}, the direct candidates merged with
    the donations, best prior per qcode ({} for a dictionary miss that got
    none)."""
    # donors: token -> {qcode: best capped prior}
    donations: dict[str, dict[str, float]] = defaultdict(dict)
    for m in ms:
        toks = m["block_key"].split()
        if len(toks) < 2:
            continue
        for q, p in m["cands"]:
            if q in human_qcodes and p > COREF_FLOOR:
                capped = min(p, COREF_CAP)
                for t in toks:
                    if capped > donations[t].get(q, -1.0):
                        donations[t][q] = capped
    out: dict[str, dict[str, float]] = {}
    for m in ms:
        merged: dict[str, float] = {}
        for q, p in m["cands"]:
            merged[q] = max(merged.get(q, -1.0), p)
        toks = m["block_key"].split()
        if len(toks) == 1 and toks[0] in donations:
            for q, p in donations[toks[0]].items():
                merged[q] = max(merged.get(q, -1.0), p)
        out[m["mention_id"]] = merged
    return out


def resolve_mentions(
    mentions: list[dict],
    pem: dict[str, list[tuple[str, float]]],
    entity_meta: dict[str, dict],
    entity_emb: dict[str, list[float]],
    human_qcodes: set[str],
    doc_spans: dict[str, list[tuple[int, str]]],
) -> dict[str, str | None]:
    """mentions: [{doc_id, mention_id, surface, offset}]; doc_spans maps
    doc_id -> offset-sorted [(offset, text)] TEXT spans (media spans occupy
    offset space but never enter a window). Returns mention_id -> winner
    qcode (or None for NIL)."""
    by_doc: dict[str, list[dict]] = defaultdict(list)
    for m in mentions:
        mm = dict(m)
        mm["block_key"] = normalize_surface_py(m["surface"]) or ""
        mm["cands"] = list(pem.get(mm["block_key"], []))[:MAX_CANDIDATES]
        by_doc[m["doc_id"]].append(mm)

    norm_label = {q: normalize_surface_py(e["label"]) for q, e in entity_meta.items()}

    out: dict[str, str | None] = {}
    for doc_id, ms in by_doc.items():
        cands = person_coref(ms, human_qcodes)
        spans_d = doc_spans.get(doc_id, [])
        for m in ms:
            mention_emb = hash_embed(mention_window_text(spans_d, m["offset"]))
            merged = cands[m["mention_id"]]
            best_q, best_score = None, None
            for q, p in merged.items():
                jw = jaro_winkler_py(m["block_key"], norm_label.get(q, ""))
                lev = lev_sim_py(m["block_key"], norm_label.get(q, ""))
                cos = cosine(mention_emb, entity_emb.get(q, []))
                score = (W_PRIOR * p + W_JW * jw + W_LEV * lev
                         + W_COS * max(cos, 0.0))
                key = (-score, int(q[1:]))
                if best_score is None or key < best_score:
                    best_score, best_q = key, q
            if best_q is None or -best_score[0] < ED_THRESHOLD:
                out[m["mention_id"]] = None
            else:
                out[m["mention_id"]] = best_q
    return out


def pairs_from_assignment(
    assign: dict[str, str | None], block_keys: dict[str, str]
) -> set[tuple[str, str]]:
    """All unordered mention pairs with the same (non-NIL) assigned entity
    AND the same blocking key — the evaluation universe of the north rule."""
    groups: dict[tuple[str, str], list[str]] = defaultdict(list)
    for mid, q in assign.items():
        if q is not None:
            groups[(q, block_keys[mid])].append(mid)
    pairs = set()
    for members in groups.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                pairs.add((members[i], members[j]))
    return pairs


def pairwise_f1(pred: set[tuple[str, str]], gold: set[tuple[str, str]]) -> dict:
    tp = len(pred & gold)
    fp = len(pred - gold)
    fn = len(gold - pred)
    p = tp / (tp + fp) if tp + fp else 1.0
    r = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": p, "recall": r, "f1": f1}
