"""Seeded workload inputs for the benchmark.

Every input is a pure function of (workload, seed, size): the same seed
writes byte-identical parquet. Inputs go under the run's work directory
inside the checkout, never into the repository's tracked files.

Three corpora:

- ``er``: ``refined_spark.fixtures.generate`` as is (the engine's own
  interleaved text+media corpus, ~20% hot-alias docs, no spelling noise).
- ``er_fuzzy``: the same generator plus a seeded post-pass that typos a
  share of the long entity mentions so their normalized key misses the
  exact dictionary. The typo keeps the span's length, so every span offset
  and mention id stays valid. Hot-key skew is the generator's own.
- ``near_dup``: a word corpus (``doc_id bigint, text string``) with planted
  near-duplicate groups and one planted degenerate bucket (a boilerplate
  template shared by many docs), plus an embedding table
  (``vec_id bigint, embedding array<float>``) with planted near-duplicate
  vectors and one degenerate direction that fills a single LSH bucket.

``describe_*`` returns the input properties recorded with the results.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Corpus sizes, from measurements on a 4-core host (local[4]). A warm full
# store-path run takes ~10 s of per-run driver work plus ~1.2 ms per doc
# (12 s at 2000 docs, 16 s at 5000, 34 s at 20000), and a cold process
# spends ~30 s more before its first timed unit. At ER_DOCS a fifth of a
# full run is per-doc work and one benchmark run stays near a minute.
ER_DOCS = 2000
# bench.py's entities per doc (1500 entities for 20000 docs)
ER_ENTITIES = ER_DOCS * 1500 // 20000

# The one perturbation rate of the engine's fixture generator: it puts the
# hot entity in ~20% of docs (fixtures.generate). Every planted share below
# reuses it, so the benchmark adds no tuning constant of its own.
PERTURB = 0.2
TYPO_SHARE = PERTURB  # of the long entity mentions, in er_fuzzy


def _typo_min_len() -> int:
    """Shortest key whose one-letter typo the LSH channel can still verify:
    a substitution changes at most k of the key's L-k+1 char k-shingles, so
    Jaccard >= (n-k)/(n+k) for n = L-k+1, which is >= t once
    n >= k(1+t)/(1-t). k and t are blocking.lsh_candidate_join's defaults."""
    import inspect
    import math

    from refined_spark.operators import blocking

    p = inspect.signature(blocking.lsh_candidate_join).parameters
    k, t = p["k"].default, p["jaccard_threshold"].default
    return math.ceil(k * (1 + t) / (1 - t)) + k - 1


# near_dup: doc lengths and the vector table follow the repository's sf0.1
# synthetic corpus (TESTDATA.md): 10-100 words per doc, 2000 vectors of 64
# dims. Its 31-word vocabulary is not kept: with it every doc pair shares
# most shingles and planted groups could not be told from the rest; 1500
# words keep unrelated docs far below the clusters' Jaccard threshold. A
# warm unit takes ~11 s of per-run driver work plus ~2.3 ms per doc.
ND_DOCS = 1000
ND_WORDS = (10, 100)
ND_VOCAB = 1500
ND_VECS = 2000
ND_DIM = 64
ND_GROUP_SHARE = PERTURB    # docs that are planted near-copies of another doc
ND_BOILER_SHARE = PERTURB   # docs in the planted degenerate bucket
ND_VEC_DUP_SHARE = PERTURB
ND_VEC_HOT_SHARE = PERTURB  # vectors sharing one direction (one hot LSH bucket)


def er(out_dir: str, seed: int, n_docs: int = ER_DOCS) -> dict[str, str]:
    from refined_spark import fixtures

    return fixtures.generate(out_dir, n_docs=n_docs, n_entities=ER_ENTITIES, seed=seed)


def _typo(text: str, rng: random.Random) -> str:
    """One in-word letter substitution inside the last token: the length and
    the doc's span offsets stay put, the normalized key changes."""
    last = text.rfind(" ") + 1
    lo, hi = last + 1, len(text) - 1
    if hi <= lo:
        return text
    i = rng.randrange(lo, hi)
    c = text[i].lower()
    repl = rng.choice([x for x in "aeiourstnl" if x != c])
    return text[:i] + repl + text[i + 1:]


def er_fuzzy(out_dir: str, seed: int, n_docs: int = ER_DOCS) -> dict[str, str]:
    from refined_spark import fixtures
    from refined_spark.functions.normalize import normalize_surface_py

    paths = er(out_dir, seed, n_docs)
    rng = random.Random(seed * 7919 + 1)
    entities, _ = fixtures.build_entities(ER_ENTITIES, random.Random(seed))
    pem = fixtures.build_pem(entities)

    docs = pq.read_table(paths["documents"]).to_pylist()
    gold = pq.read_table(paths["gold_mentions"]).to_pylist()
    gold_by_id = {g["mention_id"]: g for g in gold}

    def entity_spans(d):
        return [s for s in d["spans"] if f"{d['doc_id']}#{s['offset']}" in gold_by_id]

    # an exact count, so every seed carries the same amount of fuzzy work
    min_len = _typo_min_len()
    long_spans = [(d, s) for d in docs for s in entity_spans(d)
                  if len(normalize_surface_py(s["text"]) or "") >= min_len]
    for d, s in rng.sample(long_spans, round(TYPO_SHARE * len(long_spans))):
        typo = _typo(s["text"], rng)
        if normalize_surface_py(typo) not in pem:
            s["text"] = typo
            g = gold_by_id[f"{d['doc_id']}#{s['offset']}"]
            g.update(surface=typo, block_key=normalize_surface_py(typo))
    schema = pq.read_schema(paths["documents"])
    pq.write_table(pa.Table.from_pylist(docs, schema=schema), paths["documents"],
                   row_group_size=2048)
    gschema = pq.read_schema(paths["gold_mentions"])
    pq.write_table(pa.Table.from_pylist(gold, schema=gschema), paths["gold_mentions"])
    return paths


def describe_er(paths: dict[str, str]) -> dict:
    """docs, mentions, distinct block keys, exact-miss share, hot-alias
    share and the largest bucket (mentions sharing one block key)."""
    from collections import Counter

    from refined_spark.functions.normalize import normalize_surface_py

    docs = pq.read_table(paths["documents"], columns=["doc_id", "spans"]).to_pylist()
    pem_keys = set(pq.read_table(paths["pem"], columns=["surface_form"])
                   .column(0).to_pylist())
    keys: Counter = Counter()
    n_mentions = 0
    for d in docs:
        for s in d["spans"]:
            if s["kind"] == "text" and s["text"]:
                n_mentions += 1
                keys[normalize_surface_py(s["text"])] += 1
    gold = pq.read_table(paths["gold_mentions"], columns=["doc_id", "gold_qcode"])
    gq = gold.to_pydict()
    hot_q = Counter(gq["gold_qcode"]).most_common(1)[0][0] if gq["gold_qcode"] else None
    hot_docs = {d for d, q in zip(gq["doc_id"], gq["gold_qcode"]) if q == hot_q}
    gkeys = pq.read_table(paths["gold_mentions"], columns=["block_key"]).column(0).to_pylist()
    misses = sum(1 for k in gkeys if k not in pem_keys)
    return {
        "docs": len(docs),
        "mentions": n_mentions,
        "distinct_block_keys": len(keys),
        "entity_mentions": len(gkeys),
        "exact_miss_share": round(misses / max(len(gkeys), 1), 4),
        "hot_alias_share": round(len(hot_docs) / max(len(docs), 1), 4),
        "largest_bucket": max(keys.values()) if keys else 0,
    }


def _word(i: int) -> str:
    letters = "abcdefghijklmnoprstuvwy"
    s = ""
    i += len(letters)
    while i:
        i, r = divmod(i, len(letters))
        s += letters[r]
    return s + "x"


def near_dup(out_dir: str, seed: int, n_docs: int = ND_DOCS,
             n_vecs: int = ND_VECS) -> dict[str, str]:
    """Docs and vectors with planted near-duplicate groups; the gold groups
    are written next to them (``doc_groups``, ``vec_groups``: id -> group)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    vocab = [_word(i) for i in range(ND_VOCAB)]

    texts: list[str] = []
    doc_group: dict[int, int] = {}
    n_boiler = round(ND_BOILER_SHARE * n_docs)
    template = [rng.choice(vocab) for _ in range(sum(ND_WORDS) // 2)]
    n_plain = n_docs - n_boiler
    copies = set(rng.sample(range(1, n_plain), round(ND_GROUP_SHARE * n_plain)))
    while len(texts) < n_plain:
        i = len(texts)
        if i in copies:
            # near-copy of an earlier doc: one word appended, which keeps
            # even the shortest doc above the clusters' Jaccard threshold
            src = rng.randrange(len(texts))
            texts.append(texts[src] + " " + rng.choice(vocab))
            doc_group[i] = doc_group.setdefault(src, src)
        else:
            texts.append(" ".join(rng.choice(vocab) for _ in range(rng.randint(*ND_WORDS))))
    # degenerate bucket: one boilerplate template, a serial number appended
    boiler_group = len(texts)
    for k in range(n_boiler):
        doc_group[len(texts)] = boiler_group
        texts.append(" ".join(template) + f" ref{k:05d}")
    order = list(range(n_docs))
    rng.shuffle(order)  # doc ids carry no hint of the planted groups
    ids = {old: new for new, old in enumerate(order)}
    docs = pa.table({
        "doc_id": pa.array([ids[o] for o in range(n_docs)], pa.int64()),
        "text": pa.array(texts, pa.string()),
    })
    pq.write_table(docs.sort_by("doc_id"), f"{out_dir}/docs.parquet", row_group_size=512)
    pq.write_table(pa.table({
        "doc_id": pa.array([ids[k] for k in doc_group], pa.int64()),
        "group": pa.array([ids[v] for v in doc_group.values()], pa.int64()),
    }), f"{out_dir}/doc_groups.parquet")

    nrng = np.random.default_rng(seed)
    X = nrng.standard_normal((n_vecs, ND_DIM))
    vec_group: dict[int, int] = {}
    n_hot = round(ND_VEC_HOT_SHARE * n_vecs)
    hot_dir = nrng.standard_normal(ND_DIM)
    for i in range(n_vecs - n_hot, n_vecs):
        X[i] = hot_dir + 0.02 * nrng.standard_normal(ND_DIM)
        vec_group[i] = n_vecs - n_hot
    n_plain = n_vecs - n_hot
    dups = nrng.choice(np.arange(1, n_plain), round(ND_VEC_DUP_SHARE * n_plain),
                       replace=False)
    for i in sorted(int(x) for x in dups):
        src = int(nrng.integers(0, i))
        X[i] = X[src] + 0.01 * nrng.standard_normal(ND_DIM)
        vec_group[i] = vec_group.setdefault(src, src)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array([row.astype(np.float32) for row in X],
                              pa.list_(pa.float32())),
    })
    pq.write_table(emb, f"{out_dir}/vectors.parquet", row_group_size=256)
    pq.write_table(pa.table({
        "vec_id": pa.array(list(vec_group), pa.int64()),
        "group": pa.array(list(vec_group.values()), pa.int64()),
    }), f"{out_dir}/vec_groups.parquet")
    return {k: f"{out_dir}/{k}.parquet"
            for k in ("docs", "doc_groups", "vectors", "vec_groups")}


def describe_near_dup(paths: dict[str, str]) -> dict:
    from collections import Counter

    groups = Counter(pq.read_table(paths["doc_groups"], columns=["group"])
                     .column(0).to_pylist())
    vgroups = Counter(pq.read_table(paths["vec_groups"], columns=["group"])
                      .column(0).to_pylist())
    return {
        "docs": pq.ParquetFile(paths["docs"]).metadata.num_rows,
        "vectors": pq.ParquetFile(paths["vectors"]).metadata.num_rows,
        "planted_doc_groups": len(groups),
        "planted_doc_pairs": sum(n * (n - 1) // 2 for n in groups.values()),
        "largest_bucket": max(groups.values()) if groups else 0,
        "planted_vec_groups": len(vgroups),
        "largest_vec_bucket": max(vgroups.values()) if vgroups else 0,
    }
