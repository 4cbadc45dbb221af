"""Property tests (hypothesis) for the shared pure-Python kernels.

These kernels are load-bearing in a specific way: each one is BOTH the
engine's Python/Arrow implementation AND the oracle's reference semantics
(SURVEY §7.4.2's shared-kernel rule), so an invariant violation here would
corrupt engine and oracle in lockstep — invisible to the parity gate. The
properties below are the ones the distributed plans assume:

  - normalize_surface_py output shape (blocking keys must be stable ASCII
    tokens — pem.candidate_join equi-joins on them);
  - Levenshtein metric axioms (lev_sim_col claims bit-parity with Spark's
    builtin, which is a true edit distance);
  - Jaro-Winkler range/boost bounds (scoring weights assume [0, 1]);
  - SimHash width-prefix consistency (BENCH.md's "hash values changed only
    in bits 16+" claim when the default moved 16 -> 64 bits) and vote
    order-independence (dedup.simhash_table and the DuckDB twin
    queries._sql_simhash count each bit's votes over the token list);
  - the MinHash batch kernel (hashing.minhash_batch, the one kernel dedup
    and ER blocking share) equals its DuckDB reference minhash_sig_sql;
  - oracle cosine/F1 identities (the e2e gate divides by them).

No SparkSession is used — the suite stays JVM-free and fast (DuckDB
evaluates the MinHash reference in-process). Hypothesis
runs derandomized so CI never flakes on a lucky seed.
"""

import pyarrow as pa
from hypothesis import given, settings, strategies as st

from refined_spark.functions.hashing import minhash_batch, simhash64_py
from refined_spark.functions.normalize import normalize_surface_py
from refined_spark.functions.similarity import (
    jaro_py,
    jaro_winkler_py,
    lev_sim_py,
    levenshtein_py,
)
from refined_spark.oracle import cosine, pairwise_f1, seq_dot, seq_norm

SETTINGS = settings(max_examples=200, derandomize=True, deadline=None)

text = st.text(max_size=40)
# include plenty of non-ASCII so the fold path is exercised
unicode_text = st.text(
    alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x2FFF), max_size=40
)
token_lists = st.lists(st.text(min_size=1, max_size=12), max_size=30)
vectors = st.lists(
    st.floats(min_value=-1e3, max_value=1e3, allow_nan=False), min_size=1, max_size=16
)


# ---------------------------------------------------------------- normalize
@SETTINGS
@given(unicode_text)
def test_normalize_output_is_clean_ascii(s):
    out = normalize_surface_py(s)
    assert out is not None
    assert all(ord(c) < 128 for c in out)
    # single-space tokenization, no edge whitespace, no quote chars
    assert out == " ".join(out.split())
    assert not any(ch in out for ch in ('.', '"', "'", "`"))


@SETTINGS
@given(st.text(alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
               max_size=40))
def test_normalize_ascii_input_is_lowercase(s):
    # lowercasing runs FIRST, so ASCII inputs come out lowercase. (Non-ASCII
    # symbols may legitimately fold to UPPERCASE ASCII after it — NFKD
    # compatibility decompositions like '℣' -> 'V' or '™' -> 'TM' happen
    # after the lower() — a shared-kernel behavior, identical on the engine
    # and oracle sides, so blocking-key parity is unaffected.)
    out = normalize_surface_py(s)
    assert out == out.lower()


@SETTINGS
@given(unicode_text)
def test_normalize_is_deterministic(s):
    assert normalize_surface_py(s) == normalize_surface_py(s)


def test_normalize_none_passthrough():
    assert normalize_surface_py(None) is None


# -------------------------------------------------------------- levenshtein
@SETTINGS
@given(text, text)
def test_levenshtein_metric_axioms(a, b):
    d = levenshtein_py(a, b)
    assert d == levenshtein_py(b, a)  # symmetry
    assert (d == 0) == (a == b)  # identity of indiscernibles
    assert abs(len(a) - len(b)) <= d <= max(len(a), len(b))


@SETTINGS
@given(text, text, text)
def test_levenshtein_triangle_inequality(a, b, c):
    assert levenshtein_py(a, c) <= levenshtein_py(a, b) + levenshtein_py(b, c)


@SETTINGS
@given(text, text)
def test_lev_sim_range_and_identity(a, b):
    s = lev_sim_py(a, b)
    assert 0.0 <= s <= 1.0
    assert lev_sim_py(a, a) == 1.0


# ------------------------------------------------------------- jaro-winkler
@SETTINGS
@given(text, text)
def test_jaro_winkler_bounds_and_boost(a, b):
    j = jaro_py(a, b)
    jw = jaro_winkler_py(a, b)
    assert 0.0 <= j <= 1.0
    assert j <= jw <= 1.0  # Winkler prefix boost never lowers the score
    assert jaro_winkler_py(a, a) == 1.0


@SETTINGS
@given(text)
def test_jaro_zero_against_disjoint_alphabet(a):
    # no common characters => no matches => 0
    filler = next(c for c in "\x01\x02\x03" if c not in a)
    b = filler * max(len(a), 1)
    assert jaro_py(a, b) == 0.0


def test_jaro_winkler_none_is_zero():
    assert jaro_winkler_py(None, "x") == 0.0
    assert jaro_winkler_py("x", None) == 0.0


# ------------------------------------------------------------------ simhash
@SETTINGS
@given(token_lists)
def test_simhash_width_prefix_consistency(tokens):
    """Bit b's majority vote does not depend on num_bits, so the 16-bit
    hash IS the low 16 bits of the 64-bit hash — the compatibility claim
    made when the default moved to 64 bits (BENCH.md round-4 notes)."""
    h16 = simhash64_py(tokens, num_bits=16)
    h64 = simhash64_py(tokens, num_bits=64)
    assert h16 == (h64 & 0xFFFF)
    assert 0 <= h16 < (1 << 16)


@SETTINGS
@given(token_lists)
def test_simhash_is_order_independent(tokens):
    # the vote accumulator is commutative — scan order must not matter
    assert simhash64_py(list(reversed(tokens))) == simhash64_py(tokens)


@SETTINGS
@given(token_lists)
def test_simhash_signed_64_range(tokens):
    h = simhash64_py(tokens, num_bits=64)
    assert -(1 << 63) <= h < (1 << 63)


# ------------------------------------------------------------------ minhash
# Spark strings are valid UTF-8, so no lone surrogates; nulls mix into the
# batch like null text columns do
minhash_texts = st.lists(
    st.one_of(st.none(), st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), max_size=24)),
    max_size=12,
)


@SETTINGS
@given(minhash_texts, st.integers(min_value=1, max_value=6))
def test_minhash_batch_equals_sql_reference(minhash_sql, texts, k):
    got = minhash_batch(pa.array(texts, pa.string()), k, 8).to_pylist()
    assert got == minhash_sql(texts, k, 8)


# ------------------------------------------------------------------- oracle
@SETTINGS
@given(vectors)
def test_cosine_self_is_one(v):
    if seq_norm(v) > 0:
        assert abs(cosine(v, v) - 1.0) < 1e-9


@SETTINGS
@given(vectors, vectors)
def test_cosine_cauchy_schwarz(a, b):
    n = min(len(a), len(b))
    a, b = a[:n], b[:n]
    if n and seq_norm(a) > 0 and seq_norm(b) > 0:
        assert abs(cosine(a, b)) <= 1.0 + 1e-9


@SETTINGS
@given(vectors, vectors)
def test_seq_dot_matches_naive_sum_order(a, b):
    """seq_dot is DEFINED as the left-to-right fold — the exact accumulation
    order the Arrow kernels replicate for bit-parity. Pin it."""
    n = min(len(a), len(b))
    acc = 0.0
    for i in range(n):
        acc += a[i] * b[i]
    assert seq_dot(a[:n], b[:n]) == acc


def test_pairwise_f1_identities():
    pairs = {("a", "b"), ("a", "c")}
    perfect = pairwise_f1(set(pairs), set(pairs))
    assert perfect["f1"] == 1.0
    disjoint = pairwise_f1({("a", "b")}, {("x", "y")})
    assert disjoint["f1"] == 0.0
