"""Deterministic, cross-engine hashing for blocking / dedup (MinHash, SimHash).

Everything here is reproducible in ANSI SQL (DuckDB oracle) because the base
hash is md5-hex -> first 15 hex chars -> bigint, identical in Spark
(`conv(substr(md5(x),1,15),16,10)`) and DuckDB
(`('0x'||substr(md5(x),1,15))::BIGINT`). 15 hex chars < 2^60, so the value is
positive and exact in both engines. MinHash uses the double-hash family
g_i = (h1 + i*h2) & (2^60-1) over one md5 per shingle, computed by ONE
batch-vectorized Arrow kernel (minhash_batch / minhash_table) that dedup
and ER blocking share; minhash_sig_sql is its DuckDB twin and
simhash64_py the pure-Python SimHash reference. No wall-clock, no
unseeded rand anywhere (SURVEY.md §7.4.5).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _lcg(state: int) -> int:
    return (6364136223846793005 * state + 1442695040888963407) % (1 << 63)


def md5_hash64_col(c: Column) -> Column:
    """64-bit-ish (60-bit) deterministic hash of a string column."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


MD5_HASH64_SQL = "(('0x' || substr(md5({col}), 1, 15))::BIGINT)"


def char_shingles_col(c: Column, k: int = 5) -> Column:
    """All k-char shingles of a string as array<string> (empty-safe).
    sequence+transform keeps this in codegen; no UDF."""
    n = F.greatest(F.length(c) - F.lit(k - 1), F.lit(0))
    return F.when(n <= 0, F.array(F.substring(c, 1, k))).otherwise(
        F.transform(F.sequence(F.lit(1), n), lambda i: F.substr(c, i, F.lit(k)))
    )


def token_shingles_from_tokens_col(toks: Column, k: int = 3) -> Column:
    """Word k-shingles over an ALREADY-SPLIT token array column.

    `toks` must be a bound attribute (materialized in its own select), not
    an expression tree: the transform lambda references it once per gram,
    and common-subexpression elimination does not reach inside lambda
    bodies — an inlined split/regexp chain here is re-evaluated for every
    gram of every row (measured 10x+ on the n-gram corpus scan)."""
    n = F.greatest(F.size(toks) - F.lit(k - 1), F.lit(0))
    return F.when(n <= 0, F.array(F.array_join(toks, " "))).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
        )
    )


def token_shingles_col(c: Column, k: int = 3) -> Column:
    """Word k-shingles: split on whitespace, join k-grams with single
    spaces. Prefer split_tokens_col + token_shingles_from_tokens_col
    across two selects (see that docstring) when the input is a string
    expression rather than a bound column."""
    return token_shingles_from_tokens_col(F.split(F.trim(c), r"\s+"), k)


def split_tokens_col(c: Column) -> Column:
    """The tokenizer token_shingles_col applies before shingling."""
    return F.split(F.trim(c), r"\s+")


MASK60 = (1 << 60) - 1
MASK56 = (1 << 56) - 1
MAX_MINHASH = 128


def minhash_batch(texts, k: int, num_hashes: int):
    """MinHash signatures of one batch of strings (a pyarrow string array;
    null -> null signature) as a pa.ListArray of int64.

    Per row: the set of char k-shingles (a string of at most k chars is its
    own single shingle, "" included); per shingle one md5, read as the
    double hash h1 = hex chars 1-15 (digest bytes 0-7 >> 4, 60 bits) and
    h2 = hex chars 16-29 ((bytes 7-14 >> 4) & 2^56-1); signature entry i is
    min over the row's shingles of (h1 + i*h2) & (2^60-1). The whole batch
    is one flat digest buffer: h1/h2 are one big-endian view each and every
    permutation is one np.minimum.reduceat over the row segments, so the
    per-row Python work is only the shingle set and its md5 calls.
    Bit-exact with minhash_sig_sql (the DuckDB reference): the low 60 bits
    of the sum do not depend on the wrap-around of the uint64 arithmetic."""
    import hashlib

    import numpy as np
    import pyarrow as pa

    md5 = hashlib.md5
    rows = texts.to_pylist()
    valid = np.fromiter((s is not None for s in rows), dtype=bool, count=len(rows))
    starts, digests = [], []
    for s in rows:
        if s is None:
            continue
        starts.append(len(digests))
        n = len(s)
        shingles = {s[:k]} if n <= k else {s[i:i + k] for i in range(n - k + 1)}
        digests.extend(md5(sh.encode("utf-8")).digest() for sh in shingles)
    sig = np.empty((len(starts), num_hashes), dtype=np.uint64)
    if starts:
        d = np.frombuffer(b"".join(digests), dtype=np.uint8).reshape(-1, 16)
        h1 = np.ascontiguousarray(d[:, 0:8]).view(">u8").ravel() >> np.uint64(4)
        h2 = (np.ascontiguousarray(d[:, 7:15]).view(">u8").ravel()
              >> np.uint64(4)) & np.uint64(MASK56)
        for i in range(num_hashes):
            g = (h1 + np.uint64(i) * h2) & np.uint64(MASK60)
            sig[:, i] = np.minimum.reduceat(g, starts)
    offsets = np.zeros(len(rows) + 1, dtype=np.int32)
    np.cumsum(valid * num_hashes, out=offsets[1:])
    return pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(sig.view(np.int64).ravel()),
        mask=pa.array(~valid),
    )


def minhash_table(df, text_col: str, k: int, num_hashes: int, keep: list):
    """(*keep, sig array<bigint>[num_hashes]): the MinHash signature of the
    char-k-shingles of ``text_col``, one Arrow batch per minhash_batch call
    (mapInArrow). The one MinHash kernel of the engine: dedup's document
    signatures and the blocking channel's banding both run it.

    num_hashes is capped at MAX_MINHASH when the plan is built: the DuckDB
    twin computes i*h2 in BIGINT, and i*h2 <= 127*2^56 stays under 2^63.
    (Its sum h1 + i*h2 can still overflow BIGINT from i = 113 on; the
    kernel's uint64 arithmetic cannot.)"""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    if num_hashes > MAX_MINHASH:
        raise ValueError(
            f"num_hashes={num_hashes} > {MAX_MINHASH} would overflow the long domain"
        )
    schema = StructType(
        [df.schema[c] for c in keep] + [StructField("sig", ArrayType(LongType()))]
    )

    def kernel(batches):
        import pyarrow as pa

        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [b.column(c) for c in keep]
                + [minhash_batch(b.column(text_col), k, num_hashes)],
                names=[*keep, "sig"],
            )

    return df.mapInArrow(kernel, schema)


def minhash_sig_sql(shingles_sql: str, num_hashes: int = 32) -> str:
    """DuckDB twin over a list<varchar> SQL expression."""
    base = (
        f"list_transform({shingles_sql}, s -> struct_pack("
        f"h1 := ('0x' || substr(md5(s),1,15))::BIGINT, "
        f"h2 := ('0x' || substr(md5(s),16,14))::BIGINT))"
    )
    parts = []
    for i in range(num_hashes):
        parts.append(
            f"list_min(list_transform({base}, b -> (b.h1 + {i} * b.h2) & {MASK60}))"
        )
    return "[" + ", ".join(parts) + "]"


def simhash64_py(tokens: list[str], num_bits: int = 64) -> int:
    """SimHash over a token list — the pure-Python reference kernel,
    bit-exact with the engine's Arrow kernel (operators/dedup.simhash_table)
    and the DuckDB oracle (queries._sql_simhash): per-token hash = md5 hex 1-15
    (bits 0-59) + hex char 16 (bits 60-63); bit b of the output is the
    majority vote of bit b. Returned as a SIGNED 64-bit value (bit 63 set
    => negative), matching the long/BIGINT representation both engines
    use. Property tests assert engine == this kernel token-for-token."""
    import hashlib

    acc = [0] * num_bits
    for t in tokens:
        hx = hashlib.md5(t.encode("utf-8")).hexdigest()
        h1 = int(hx[:15], 16)
        h2 = int(hx[15], 16)
        for bit in range(min(num_bits, 60)):
            acc[bit] += 1 if (h1 >> bit) & 1 else -1
        for bit in range(60, num_bits):
            acc[bit] += 1 if (h2 >> (bit - 60)) & 1 else -1
    out = 0
    for bit in range(num_bits):
        if acc[bit] > 0:
            out |= 1 << bit
    return out - (1 << 64) if out >= (1 << 63) else out


def band_hashes_col(sig: Column, bands: int, num_hashes: int) -> Column:
    """LSH banding: the signature array sliced into `bands` groups of
    num_hashes//bands rows, each group hashed to one band key string.
    Shared by the dedup channel (dedup.lsh_candidate_pairs) and the
    blocking channel (banded_rows) so the band-key definition can
    never drift between them."""
    rows_per_band = (num_hashes // bands) or 1
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.md5(
            F.array_join(F.slice(sig, b * rows_per_band + 1, rows_per_band), ",")
        ),
    )


def banded_rows(df, text_col: str, k: int, num_hashes: int, bands: int):
    """+ (band_id, band_hash) per input row, one row per band, from the
    MinHash signature (minhash_table) of the char-k-shingles of
    ``text_col``. The blocking channel bands both sides with it: the
    mention keys per run and the dictionary surfaces once per dictionary
    (pem.banded_surfaces). A null ``text_col`` gets null band hashes, which
    join nothing."""
    sig = minhash_table(df, text_col, k, num_hashes, df.columns)
    return sig.select(
        *df.columns,
        F.posexplode(
            band_hashes_col(F.col("sig"), bands, num_hashes)
        ).alias("band_id", "band_hash"),
    )
