"""Deterministic, cross-engine hashing for blocking / dedup (MinHash, SimHash).

Everything here is reproducible in ANSI SQL (DuckDB oracle) because the base
hash is md5-hex -> first 15 hex chars -> bigint, identical in Spark
(`conv(substr(md5(x),1,15),16,10)`) and DuckDB
(`('0x'||substr(md5(x),1,15))::BIGINT`). 15 hex chars < 2^60, so the value is
positive and exact in both engines. MinHash permutations are the standard
(a*h + b) mod p family with hardcoded seeded coefficients — no wall-clock, no
unseeded rand anywhere (SURVEY.md §7.4.5).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_P = (1 << 61) - 1
_SEED = 0x5EED_C0DE


def _lcg(state: int) -> int:
    return (6364136223846793005 * state + 1442695040888963407) % (1 << 63)


def minhash_coeffs(num_hashes: int, seed: int = _SEED) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs; a != 0 mod p."""
    out = []
    s = seed
    while len(out) < num_hashes:
        s = _lcg(s)
        a = s % MERSENNE_P
        s = _lcg(s)
        b = s % MERSENNE_P
        if a == 0:
            continue
        out.append((a, b))
    return out


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


def minhash_base_col(shingles: Column) -> Column:
    """Per-shingle double hash from ONE md5: h1 = 60 bits (hex 1-15),
    h2 = 56 bits (hex 16-29). Callers must materialize this in its own
    select so Catalyst computes it once, not once per permutation."""
    return F.transform(
        shingles,
        lambda s: F.struct(
            F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(F.md5(s), 16, 14), 16, 10).cast("long").alias("h2"),
        ),
    )


def minhash_sig_from_base_col(base: Column, num_hashes: int = 32) -> Column:
    """MinHash signature via the standard double-hash family
    g_i = (h1 + i*h2) & (2^60-1) — branch-free long arithmetic (no int128,
    no per-permutation md5), exact in both Spark and DuckDB.
    i*h2 <= 127*2^56 stays under 2^63, so no overflow for num_hashes<=128.
    min over the multiset equals min over the set, so no array_distinct."""
    if num_hashes > 128:
        raise ValueError("num_hashes > 128 would overflow the long domain")

    def g(i: int):
        return lambda b: (b["h1"] + F.lit(i) * b["h2"]).bitwiseAND(F.lit(MASK60))

    return F.array(
        *[F.array_min(F.transform(base, g(i))) for i in range(num_hashes)]
    )


def minhash_sig_col(shingles: Column, num_hashes: int = 32, seed: int = _SEED) -> Column:
    """One-shot variant (recomputes the base per permutation — prefer
    minhash_base_col + minhash_sig_from_base_col across two selects)."""
    return minhash_sig_from_base_col(minhash_base_col(shingles), num_hashes)


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
    bit-exact with the JVM plan (operators/dedup.simhash_col) and the
    DuckDB oracle (queries._sql_simhash): per-token hash = md5 hex 1-15
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
    from pyspark.sql import functions as F

    rows_per_band = (num_hashes // bands) or 1
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.md5(
            F.array_join(F.slice(sig, b * rows_per_band + 1, rows_per_band), ",")
        ),
    )


def banded_rows(df, text_col: str, k: int, num_hashes: int, bands: int):
    """+ (band_id, band_hash) per input row, one row per band, from a
    MinHash signature of the char-k-shingles of ``text_col``. The blocking
    channel bands both sides with it: the mention keys per run and the
    dictionary surfaces once per dictionary (pem.banded_surfaces)."""
    base = df.withColumn(
        "_mh_base", minhash_base_col(char_shingles_col(F.col(text_col), k))
    )
    sig = base.withColumn(
        "_sig", minhash_sig_from_base_col(F.col("_mh_base"), num_hashes)
    ).drop("_mh_base")
    return sig.select(
        "*",
        F.posexplode(
            band_hashes_col(F.col("_sig"), bands, num_hashes)
        ).alias("band_id", "band_hash"),
    ).drop("_sig")
