"""Deduplication operators over a document corpus — first-class components
for training-data pipelines at 100 TB (exact, MinHash-LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup).

All hashing is the deterministic md5-based family from functions/hashing.py,
reproducible in ANSI SQL for the DuckDB oracle. Corpus shape:
documents(doc_id, text, ...).

Scale notes:
  - exact dedup: one hash aggregate on the content hash; at 100 TB prefer
    hashing first, then groupBy the 8-byte hash (tiny shuffle payload) —
    that is exactly what these plans do (never shuffle full text).
  - MinHash-LSH: signatures come from the engine's one MinHash kernel
    (hashing.minhash_table: mapInArrow, one md5 per distinct shingle, one
    vectorized min per permutation over the whole batch), shared with ER
    blocking; banding posexplodes them to (band_id, band_hash) keys.
  - SimHash: one Arrow kernel (simhash_table), bit-exact with
    hashing.simhash64_py and the DuckDB oracle.
  - pairs: LSH buckets, SimHash pigeonhole pieces and n-gram postings all
    emit pairs through ONE block-pair kernel (see the comment above
    _n_blocks): rows replicate to B block-pair tasks, each task emits,
    dedups and filters its share of the pairs in numpy, and nothing
    pair-shaped is shuffled — a hot bucket's O(d^2) pairs split across
    B(B+1)/2 tasks instead of running in one. Block pairs carry dense ids
    0..B(B+1)/2-1 and `repartitionById` gives each its own partition: one
    Python task per block pair, none empty. Keyed operators (LSH, SimHash)
    size their buckets with a window in the pass that computes the keys,
    so the signature kernel runs once.
  - caps: splitting a hot bucket spreads its O(d^2) work but does not
    shrink it, so boilerplate buckets (LSH bucket_cap, SimHash bucket_cap)
    and grams (n-gram df_cap) above a cap are dropped; both bucket caps
    report the doc-slots they drop through `observe` metrics.
  - candidate pairs are verified with exact Jaccard before linking, then
    clustered with the CC job (transitive closure of near-dup edges).
"""

from __future__ import annotations

import operator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from refined_spark.functions.hashing import (
    char_shingles_col,
    md5_hash64_col,
    minhash_table,
)
from refined_spark.operators.clustering import connected_components


def normalized_text_col(text: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace."""
    return F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")


# --------------------------------------------------------------------------
# Block-pair pair generation (the guide-§2 shape for all-pairs work), the
# ONE way every pair operator here emits pairs: docs hash into B blocks; the
# unordered pair (a, b) is processed by exactly ONE task, the one owning
# (block(a), block(b)) — so candidate emission, deduplication/counting AND
# the similarity filter all happen task-locally in numpy, and nothing
# pair-shaped is ever shuffled. Replication cost is one copy of each doc's
# (small) key row per block — O(n·B) bytes for O(n^2/B^2)-per-task work;
# B grows as sqrt(cores). The B(B+1)/2 block pairs are numbered densely and
# `repartitionById` puts pair p on partition p, so the exchange runs exactly
# one Python task per block pair and no empty ones (every Python task pays
# a fixed worker cost, whatever it holds). Inside a task, doc ids are
# factorized with sort=True, so the pair kernel runs on int codes whose
# order is the id order (doc_a < doc_b for any orderable id type, strings
# included).
# --------------------------------------------------------------------------


def _n_blocks(spark) -> int:
    """Smallest B with enough (i<=j) block pairs to cover the cores."""
    par = max(spark.sparkContext.defaultParallelism, 2)
    b = 2
    while b * (b + 1) // 2 < 2 * par:
        b += 1
    return b


def _block_pairs(n_blocks: int) -> list:
    """Every block pair (i, j), i <= j, in row-major upper-triangle order:
    a pair's index in this list is its dense id (the decode table)."""
    return [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)]


def _pair_id(i, j, n_blocks: int, shiftright=operator.rshift):
    """Dense id of block pair (i, j), i <= j: i*B - i(i-1)/2 + (j-i), its
    index in _block_pairs(B), so the ids fill [0, B(B+1)/2). Takes ints,
    or Columns with shiftright=F.shiftright."""
    return shiftright(i * (2 * n_blocks + 1 - i), 1) + j - i


def _pid_explode(blk: Column, n_blocks: int) -> Column:
    """The dense ids of the B block pairs {(min(blk,k), max(blk,k))} a
    doc's rows must reach."""
    ks = F.sequence(F.lit(0), F.lit(n_blocks - 1))
    return F.explode(F.transform(ks, lambda k: _pair_id(
        F.least(blk, k), F.greatest(blk, k), n_blocks, F.shiftright)))


def _block_pair_map(rows: DataFrame, process, schema: str) -> DataFrame:
    """Replicate each (doc_id, ...) row to the B block-pair tasks its doc
    takes part in (columns `blk`, `pid` added) and run `process(g, i, j)`
    once per task (i <= j its two blocks). `repartitionById` sends pid p to
    partition p, so a partition holds exactly one pid; its rows may span
    Arrow batches, which are concatenated first."""
    import pandas as pd

    nb = _n_blocks(rows.sparkSession)
    pairs = _block_pairs(nb)
    rep = rows.withColumn(
        "blk", F.pmod(F.xxhash64("doc_id"), F.lit(nb)).cast("int")
    ).withColumn("pid", _pid_explode(F.col("blk"), nb))

    def f(batches):
        chunks = [b for b in batches if len(b)]
        if chunks:
            g = pd.concat(chunks, ignore_index=True)
            out = process(g, *pairs[int(g["pid"].iat[0])])
            if out is not None and len(out):
                yield out

    return rep.repartitionById(len(pairs), "pid").mapInPandas(f, schema=schema)


def _dedup_sorted_pairs(a, b, c=None):
    """lexsort-unique over two parallel id arrays; with `c`, sums the
    per-row counts of equal pairs. Returns (a, b[, cnt])."""
    import numpy as np

    order = np.lexsort((b, a))
    a, b = a[order], b[order]
    new = np.empty(len(a), dtype=bool)
    new[0] = True
    new[1:] = (a[1:] != a[:-1]) | (b[1:] != b[:-1])
    idx = np.flatnonzero(new)
    if c is None:
        return a[idx], b[idx]
    starts = idx
    return a[idx], b[idx], np.add.reduceat(c[order], starts)


_ACC_CHUNK = 16_000_000


class _PairAccumulator:
    """Bounded-memory pair collector for one block-pair task: raw pair
    chunks consolidate into a sorted unique (pair[, count]) set every
    _ACC_CHUNK emissions, so the task never holds the full O(sum d^2)
    multiset — only its distinct pairs plus one chunk. At bench scale a
    task fits in one chunk and this is exactly the old single lexsort;
    the consolidation path exists for cap-sized buckets at 10-100x SFs,
    where the raw multiset (but not the distinct set) outgrows a Python
    worker."""

    def __init__(self, counts: bool, chunk: int = _ACC_CHUNK):
        self.counts = counts
        self.chunk = chunk
        self._bufs: list = []
        self._n = 0
        self._cons = None  # (a, b[, c]) sorted unique

    def add(self, a, b) -> None:
        if len(a) == 0:
            return
        self._bufs.append((a, b))
        self._n += len(a)
        if self._n >= self.chunk:
            self._flush()

    def _flush(self) -> None:
        import numpy as np

        if not self._bufs:
            return
        a = np.concatenate([x for x, _ in self._bufs])
        b = np.concatenate([y for _, y in self._bufs])
        self._bufs, self._n = [], 0
        if self.counts:
            u = _dedup_sorted_pairs(a, b, np.ones(len(a), dtype=np.int64))
        else:
            u = _dedup_sorted_pairs(a, b)
        if self._cons is None:
            self._cons = u
        elif self.counts:
            ca = np.concatenate((self._cons[0], u[0]))
            cb = np.concatenate((self._cons[1], u[1]))
            cc = np.concatenate((self._cons[2], u[2]))
            self._cons = _dedup_sorted_pairs(ca, cb, cc)
        else:
            ca = np.concatenate((self._cons[0], u[0]))
            cb = np.concatenate((self._cons[1], u[1]))
            self._cons = _dedup_sorted_pairs(ca, cb)

    def result(self):
        """(a, b[, cnt]) sorted unique, or None if nothing was added."""
        self._flush()
        return self._cons


def _segment_pairs(codes, vals, blk, i, j, acc: "_PairAccumulator") -> None:
    """Feed the cross-block (i != j) or within-block (i == j) pairs of
    every bucket segment into `acc`. `codes` (bucket keys) must be the
    primary sort key and `vals` (doc id codes) the secondary, pre-sorted
    ascending; emitted pairs have a < b element-wise."""
    import numpy as np

    bounds = np.flatnonzero(codes[1:] != codes[:-1]) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [len(codes)]))
    for s, e in zip(starts, ends):
        if e - s < 2:
            continue
        v = vals[s:e]
        if i == j:
            iu, ju = np.triu_indices(len(v), 1)
            acc.add(v[iu], v[ju])  # v ascending -> a < b
        else:
            side = blk[s:e]
            left = v[side == i]
            right = v[side == j]
            if len(left) == 0 or len(right) == 0:
                continue
            la = np.repeat(left, len(right))
            rb = np.tile(right, len(left))
            acc.add(np.minimum(la, rb), np.maximum(la, rb))


def _task_pairs(keys, ids, blk, i, j, counts: bool = False):
    """Every unique pair of docs sharing a key, among one block-pair
    task's rows (parallel arrays: key, doc id, doc block). Returns
    (ra, rb[, cnt]) — for each pair, the index of one row of doc_a and
    one row of doc_b (ids[ra] < ids[rb]), and with `counts` the number of
    keys the two share — or None when the task has no pair."""
    import numpy as np
    import pandas as pd

    codes, uniq = pd.factorize(ids, sort=True)
    order = np.lexsort((codes, keys))
    acc = _PairAccumulator(counts=counts)
    _segment_pairs(keys[order], codes[order], blk[order], i, j, acc)
    res = acc.result()
    if res is None:
        return None
    row_of = np.empty(len(uniq), dtype=np.int64)
    row_of[codes] = np.arange(len(codes))
    return (row_of[res[0]], row_of[res[1]], *res[2:])


def _keyed_pairs(rows: DataFrame, keys: list, bucket_cap: int | None,
                 observation, metric: str, emit, schema: str) -> DataFrame:
    """Pairs of docs sharing a bucket of (doc_id, *keys, ...) rows. Each
    row gets its bucket's GLOBAL size from a window over the keys, in the
    same pass that computes the rows (a separate size aggregate plus a
    join back would evaluate `rows`, and the kernel behind it, twice).
    Rows of buckets over `bucket_cap` are dropped and counted into the
    `observe` metric `metric`; rows of buckets of >= 2 go to their
    block-pair tasks, where `emit(g, ra, rb)` turns the task's unique
    pairs into output rows. A null id has no place in the id order
    (factorize codes it -1) and a null key pairs with nothing, so rows
    with either are dropped first."""
    rows = rows.dropna(subset=["doc_id", *keys])
    sized = rows.withColumn(
        "__bsz", F.count(F.lit(1)).over(Window.partitionBy(*keys))
    )
    if bucket_cap is not None:
        sized = sized.observe(
            observation,
            F.sum(F.when(F.col("__bsz") > bucket_cap, 1).otherwise(0))
            .alias(metric),
        ).where(F.col("__bsz") <= bucket_cap)
    keep = sized.where(F.col("__bsz") >= 2).drop("__bsz")

    def process(g, i, j):
        res = _task_pairs(
            g.groupby(keys, sort=False).ngroup().to_numpy(),
            g["doc_id"].to_numpy(), g["blk"].to_numpy(), i, j,
        )
        return None if res is None else emit(g, *res)

    return _block_pair_map(keep, process, schema)


def exact_duplicates(documents: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     prefix_chars: int | None = None) -> DataFrame:
    """Groups of byte-identical (normalized) documents:
    (content_hash, n_dups, doc_ids sorted, keeper = min doc_id).
    Only hashes shuffle, never text.

    prefix_chars=N hashes only the first N normalized characters —
    prefix dedup, the standard variant for corpora whose duplicates share
    openings but diverge in trailing boilerplate (and the variant that
    actually fires on corpora with no byte-identical full documents)."""
    norm = normalized_text_col(F.col(text_col))
    if prefix_chars is not None:
        norm = F.substring(norm, 1, prefix_chars)
    h = documents.select(
        F.col(id_col).alias("doc_id"),
        md5_hash64_col(norm).alias("content_hash"),
    )
    return (
        h.groupBy("content_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
            F.min("doc_id").alias("keeper"),
        )
        .where(F.col("n_dups") > 1)
    )


def minhash_signatures(documents: DataFrame, k: int = 5, num_hashes: int = 32,
                       text_col: str = "text") -> DataFrame:
    """(doc_id, sig array<long>[num_hashes]) over the char k-shingles of
    the normalized text.

    Text normalization stays a JVM builtin (so lower/trim/\\s+ semantics
    can never drift from the rest of the engine); the shingles, md5 and the
    (h1 + i*h2) & MASK60 permutation family run in the shared MinHash
    kernel (hashing.minhash_table), which raises for num_hashes > 128 when
    the plan is built."""
    norm = documents.select(
        "doc_id", normalized_text_col(F.col(text_col)).alias("__norm")
    )
    return minhash_table(norm, "__norm", k, num_hashes, ["doc_id"])


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 8, num_hashes: int = 32,
    bucket_cap: int | None = 2000, observation=None,
) -> DataFrame:
    """Band the signature into `bands` groups of rows; docs sharing a band
    hash become candidate pairs. Returns (doc_a, doc_b) distinct, a < b.

    Band key = (band_id, hash of the band's slice): band_id is part of the
    key so buckets from different bands never pair up.

    `num_hashes` must match the signature length — threaded as a parameter
    (the caller always knows it) so building the plan never runs a Spark
    job: a probe like select(size('sig')).limit(1).collect() would compute
    signatures in the driver before the real job even starts.

    bucket_cap (hot-bucket guard): a band bucket holding d docs emits
    O(d^2) pairs, so ONE boilerplate template shared by 10^6 docs would
    emit 10^12 pairs from a single key — the classic LSH failure mode on
    web corpora. Buckets larger than the cap are dropped entirely (a
    bucket that hot is boilerplate, not near-dup signal; any true
    near-dup pair in it almost surely shares a calmer bucket in another
    band). The default is FINITE on purpose: a capped bucket's O(d^2)
    pairs split across the block-pair tasks, but still cost O(d^2) work
    in total; 2000 ids ~ 2M pairs. Pass None to disable (only with a
    corpus known boilerplate-free). NOT silent: the frame carries an
    `observe` metric `lsh_dropped_bucket_rows` (doc-slots discarded by
    the cap), surfaced by the caller's action via an
    Observation/QueryExecution listener (the A9 telemetry channel; tests
    read it directly).

    Plan: global bucket sizes from a window over the band key (cap and
    >= 2 filters; the signatures are computed once) -> surviving banded
    rows replicate to their B block-pair tasks -> each task emits
    and dedups its share of every bucket's pairs locally in numpy
    (block-pair header comment above) — nothing pair-shaped is shuffled
    and a near-cap bucket's O(d^2) splits across all tasks."""
    from refined_spark.functions.hashing import band_hashes_col

    import pandas as pd

    banded = signatures.select(
        "doc_id",
        F.posexplode(
            band_hashes_col(F.col("sig"), bands, num_hashes)
        ).alias("band_id", "band_hash"),
    )

    def emit(g, ra, rb):
        ids = g["doc_id"].to_numpy()
        return pd.DataFrame({"doc_a": ids[ra], "doc_b": ids[rb]})

    t = signatures.schema["doc_id"].dataType.simpleString()
    return _keyed_pairs(
        banded, ["band_id", "band_hash"], bucket_cap,
        observation if observation is not None else "lsh_bucket_cap",
        "lsh_dropped_bucket_rows", emit, f"doc_a {t}, doc_b {t}",
    )


def jaccard_verify(
    pairs: DataFrame, documents: DataFrame, k: int = 5,
    threshold: float = 0.8, text_col: str = "text",
) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs; keeps pairs >= threshold.
    Shingle sets are joined in (twice) rather than recomputed per pair."""
    sh = documents.select(
        "doc_id",
        F.array_distinct(
            char_shingles_col(normalized_text_col(F.col(text_col)), k)
        ).alias("sh"),
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(inter / union, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def near_dup_clusters(
    documents: DataFrame, k: int = 5, num_hashes: int = 32, bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Full MinHash-LSH dedup: signatures -> banded candidates -> exact
    Jaccard verify -> CC over surviving edges. Returns
    (doc_id, cluster_id) for docs in any near-dup cluster."""
    sigs = minhash_signatures(documents, k, num_hashes)
    cands = lsh_candidate_pairs(sigs, bands, num_hashes=num_hashes)
    verified = jaccard_verify(cands, documents, k, threshold)
    ids = documents.select("doc_id", F.xxhash64("doc_id").alias("nid"))
    e = (
        verified.join(ids.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("nid", "src"), "doc_a")
        .join(ids.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("nid", "dst"), "doc_b")
        .select("src", "dst")
    )
    comp = connected_components(e)
    return ids.join(comp, ids["nid"] == comp["node"]).select(
        "doc_id", F.col("component").alias("cluster_id")
    )


def simhash_table(documents: DataFrame, num_bits: int = 64,
                  text_col: str = "text") -> DataFrame:
    """(doc_id, simhash) over word tokens via an Arrow kernel, up to the
    full 64-bit width (default 64: a 16-bit space is collision-dominated
    past ~10^6 docs — birthday pairs at 65k buckets — so "same hash" stops
    meaning near-dup on any web-scale corpus; 2^64 pushes that past 10^9).

    Bit-exact with hashing.simhash64_py and the DuckDB oracle
    queries._sql_simhash: same md5, same majority vote, same signed bit-63
    representation (hashes with bit 63 set are negative longs).
    Normalization stays JVM-side like minhash_signatures; the kernel
    unpacks each token's 64-bit hash (md5 hex 1-15 -> bits 0-59, hex 16 ->
    bits 60-63) with one np.unpackbits per doc and takes the per-bit
    majority."""
    import numpy as np
    import pandas as pd

    if not 1 <= num_bits <= 64:
        raise ValueError(f"num_bits={num_bits} outside [1, 64]")

    def kernel(batches):
        import hashlib

        md5 = hashlib.md5
        from_bytes = int.from_bytes

        for pdf in batches:
            out = []
            for s in pdf["__norm"]:
                if s is None:
                    out.append(None)
                    continue
                toks = s.split(" ")
                m = len(toks)
                h = np.empty(m, dtype=np.uint64)
                for idx, t in enumerate(toks):
                    dg = md5(t.encode("utf-8")).digest()
                    h1 = from_bytes(dg[:8], "big") >> 4   # hex 1-15
                    h2 = dg[7] & 0x0F                      # hex 16
                    h[idx] = h1 | (h2 << 60)
                bits = np.unpackbits(
                    h.view(np.uint8).reshape(m, 8), axis=1, bitorder="little"
                )
                ones = bits.sum(axis=0, dtype=np.int64)
                val = 0
                for b in range(num_bits):
                    if 2 * int(ones[b]) > m:
                        val |= 1 << b
                out.append(val - (1 << 64) if val >= (1 << 63) else val)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": out})

    id_t = documents.schema["doc_id"].dataType.simpleString()
    return documents.select(
        "doc_id", normalized_text_col(F.col(text_col)).alias("__norm")
    ).mapInPandas(kernel, schema=f"doc_id {id_t}, simhash bigint")


def simhash_pairs(documents: DataFrame, num_bits: int = 64, radius: int = 3,
                  text_col: str = "text", bucket_cap: int | None = 10000,
                  observation=None) -> DataFrame:
    """All pairs within hamming distance <= radius of each other's SimHash
    — EXACT (recall 1, unlike probabilistic LSH banding): pigeonhole
    partition. The b-bit hash splits into radius+1 contiguous pieces; two
    hashes differing in <= radius bits must agree on at least one whole
    piece, so blocking on (piece, piece value) misses nothing. Returns
    (doc_a, doc_b, hamming), doc_a < doc_b. Defaults are the canonical
    web-dedup parameters (Manku et al., WWW'07): 64-bit hash, radius 3,
    4 pieces of 16 bits.

    Plan: radius+1 (piece, value) keys per doc (bit shift+mask, pure JVM),
    each row carrying the doc's hash, into the block-pair kernel (block-pair
    header comment above). Each task dedups its pairs (a pair can agree on
    several pieces) and keeps those with popcount(xor) <= radius, so no
    distinct and no join back to the hashes.

    Scale honesty: the blow-up factor is radius+1 rows per doc (constant),
    but bucket granularity is bounded by the piece VALUE space,
    2^(num_bits // (radius+1)) — at 64 bits / radius 3 that is 2^16 values
    per piece (fine up to ~10^9 docs of diverse text), while at 16 bits /
    radius 3 it collapses to 16 values per piece and every "bucket" holds
    ~n/16 of the corpus. A hot piece value's O(d^2) pairs split across the
    B(B+1)/2 block-pair tasks, but their total is still O(d^2). bucket_cap
    is the guard: buckets larger than the cap are dropped (identical-hash
    mass that hot is boilerplate; a true <=radius pair in a dropped bucket
    almost surely also agrees on a calmer piece), and the dropped doc-slot
    count is surfaced through the non-silent `observe` metric
    `simhash_dropped_bucket_rows` (A9 telemetry channel, same contract as
    lsh_candidate_pairs)."""
    import numpy as np
    import pandas as pd

    n_pieces = radius + 1
    if num_bits < n_pieces:
        raise ValueError(f"num_bits={num_bits} < radius+1={n_pieces}")
    h = simhash_table(documents, num_bits, text_col).withColumnRenamed(
        "simhash", "sh"
    )
    widths = [num_bits // n_pieces + (1 if i < num_bits % n_pieces else 0)
              for i in range(n_pieces)]
    lows = [sum(widths[:i]) for i in range(n_pieces)]
    pieces = F.array(*[
        F.shiftright(F.col("sh"), lo).bitwiseAND(F.lit((1 << w) - 1))
        for lo, w in zip(lows, widths)
    ])
    rows = h.select("doc_id", "sh", F.posexplode(pieces).alias("piece", "val"))
    # popcount of a 64-bit xor: per-byte table, summed over its 8 bytes
    pop8 = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(axis=1)

    def emit(g, ra, rb):
        ids, sh = g["doc_id"].to_numpy(), g["sh"].to_numpy(dtype=np.int64)
        ham = pop8[(sh[ra] ^ sh[rb]).view(np.uint8)].reshape(-1, 8).sum(axis=1)
        keep = ham <= radius
        return pd.DataFrame({
            "doc_a": ids[ra[keep]], "doc_b": ids[rb[keep]],
            "hamming": ham[keep].astype(np.int32),
        })

    t = documents.schema["doc_id"].dataType.simpleString()
    return _keyed_pairs(
        rows, ["piece", "val"], bucket_cap,
        observation if observation is not None else "simhash_bucket_cap",
        "simhash_dropped_bucket_rows", emit,
        f"doc_a {t}, doc_b {t}, hamming int",
    )


def ngram_jaccard_pairs(documents: DataFrame, n: int = 3, threshold: float = 0.5,
                        text_col: str = "text", df_cap: int | None = 1000) -> DataFrame:
    """Word n-gram Jaccard near-dup over the frequent-gram-pruned sets.
    Returns (doc_a, doc_b, jaccard) above threshold, doc_a < doc_b.

    Grams with document frequency > df_cap are removed from every doc's
    gram set before similarity (standard frequent-shingle removal: a
    boilerplate phrase shared by d docs would otherwise force O(d^2) work
    AND dominate the similarity of unrelated docs). df_cap=None keeps all.

    Plan: explode distinct grams, groupBy(gram) -> capped posting lists
    (one shuffle on the gram key), re-assemble per-doc CAPPED gram-id
    arrays (singleton grams included: they count in n_a/n_b), replicate
    them to their B block-pair tasks, and let each task count the grams
    each of its pairs shares (sum over tasks == the global count) and
    apply the Jaccard filter task-locally — n_a/n_b are array lengths, so
    no size joins and no pair-shaped shuffle (block-pair header comment
    above). n_common, n_a, n_b are exact integers; jaccard is one double
    division, rounded with the engine-wide HALF_UP twin of F.round(x, 6)."""
    import numpy as np
    import pandas as pd

    from refined_spark.functions.hashing import (
        split_tokens_col,
        token_shingles_from_tokens_col,
    )
    from refined_spark.functions.similarity import round6_half_up

    # two selects: bind the token array to an attribute so the shingle
    # lambda does not re-evaluate the lower/trim/regexp/split chain per
    # gram (token_shingles_from_tokens_col docstring; measured ~10x on
    # this scan)
    toks = documents.select(
        "doc_id",
        split_tokens_col(normalized_text_col(F.col(text_col))).alias("__toks"),
    )
    grams = toks.select(
        "doc_id",
        F.array_distinct(
            token_shingles_from_tokens_col(F.col("__toks"), n)
        ).alias("grams"),
    )
    inv = grams.select("doc_id", F.explode("grams").alias("g"))
    posts = inv.groupBy("g").agg(F.collect_list("doc_id").alias("ds"))
    if df_cap is not None:
        posts = posts.where(F.size("ds") <= df_cap)
    docarr = (
        posts.select(F.monotonically_increasing_id().alias("gid"), "ds")
        .select("gid", F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.collect_list("gid").alias("gids"))
    )

    def process(g, i, j):
        lens = g["gids"].map(len).to_numpy()
        pos = np.repeat(np.arange(len(g)), lens)
        ids, n_grams = g["doc_id"].to_numpy()[pos], lens[pos]
        res = _task_pairs(np.concatenate(list(g["gids"])), ids,
                          g["blk"].to_numpy()[pos], i, j, counts=True)
        if res is None:
            return None
        ra, rb, c = res
        jacc = c.astype(np.float64) / (n_grams[ra] + n_grams[rb] - c)
        keep = jacc >= threshold
        if not keep.any():
            return None
        return pd.DataFrame({
            "doc_a": ids[ra[keep]], "doc_b": ids[rb[keep]],
            "jaccard": np.array([round6_half_up(x) for x in jacc[keep]],
                                dtype=np.float64),
        })

    t = grams.schema["doc_id"].dataType.simpleString()
    return _block_pair_map(
        docarr, process, f"doc_a {t}, doc_b {t}, jaccard double"
    )
