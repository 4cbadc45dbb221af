"""Surface-form normalization — the blocking key (operator F1).

Semantics modeled on the reference's `normalize_surface_form`
(/root/reference/src/refined/resource_management/loaders.py:137-148):
lowercase -> strip leading article "the " -> ASCII-fold -> drop
possessive 's -> drop punctuation (. " ' `) -> collapse/trim whitespace.

One shared pure-Python kernel (`normalize_surface_py`) is used by
  (a) the Arrow-vectorized pandas UDF the engine runs, and
  (b) the in-test oracle,
so blocking keys are bit-identical on both sides of the parity comparison
(this decides the pairwise-F1 >= 0.99 gate; see SURVEY.md §7.4.2).

The pipeline runs the UDF (`plans.pipeline.build_mentions`) for mentions
and labels alike. `normalize_surface_col` is a builtin-only (JVM /
whole-stage-codegen) twin for SQL-expressible driver queries, and tests
assert the two agree on the fixture vocabulary. They agree on ASCII and on
the explicit fold tables; they differ on other non-ASCII characters: the
Python kernel NFKD-folds them and drops what stays non-ASCII ("ĉ" -> "c",
"東京" -> ""), while the builtin column keeps them as they are.
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType


# Characters NFKD cannot fold (no decomposition) or folds lossily, mapped
# the way unidecode does (the reference's folder, loaders.py:143). Applied
# IDENTICALLY in the Python kernel and the builtin column so the two paths
# agree on this domain: multi-char expansions first (translate() is 1:1),
# then the single-char table. Input is already lowercased.
_MULTI_FOLDS = (("ß", "ss"), ("œ", "oe"), ("æ", "ae"), ("þ", "th"))
_ACCENTED = "àáâãäåçèéêëìíîïñòóôõöøùúûüýÿšžćčđłðāēīōūňřťğşțźńśąęőű"
_FOLDED = "aaaaaaceeeeiiiinoooooouuuuyyszccdldaeiounrtgstznsaeou"
assert len(_ACCENTED) == len(_FOLDED)
_PY_TABLE = str.maketrans(_ACCENTED, _FOLDED)


def _ascii_fold(s: str) -> str:
    # explicit table first (unidecode-style for chars NFKD can't fold),
    # then NFKD-decompose and drop combining marks; anything still
    # non-ASCII is dropped (deterministic stand-in for unidecode).
    for frm, to in _MULTI_FOLDS:
        s = s.replace(frm, to)
    s = s.translate(_PY_TABLE)
    out = unicodedata.normalize("NFKD", s)
    return "".join(c for c in out if ord(c) < 128 and not unicodedata.combining(c))


def normalize_surface_py(s: str | None) -> str | None:
    if s is None:
        return None
    t = s.lower()
    if t.startswith("the "):
        t = t[4:]
    t = _ascii_fold(t)
    t = t.replace("'s ", " ")
    if t.endswith("'s"):
        t = t[:-2]
    for ch in ('.', '"', "'", "`"):
        t = t.replace(ch, "")
    return " ".join(t.split())


@pandas_udf(StringType())
def normalize_surface_udf(s: pd.Series) -> pd.Series:
    return s.map(normalize_surface_py, na_action="ignore")


def normalize_surface_col(c: Column) -> Column:
    """Builtin-only normalization — identical to normalize_surface_py on
    ASCII + the explicit fold tables above (which include every accent in
    the fixture/test vocabulary: Ø, œ, ß, å, …). Stays inside whole-stage
    codegen. The engine pipeline itself uses the UDF kernel for both
    mentions AND labels (single-kernel rule, SURVEY §7.4.2); this builtin
    twin exists for SQL-expressible driver queries and stays agreement-
    tested on the extended goldens."""
    t = F.lower(c)
    t = F.regexp_replace(t, r"^the ", "")
    for frm, to in _MULTI_FOLDS:
        t = F.replace(t, F.lit(frm), F.lit(to))
    t = F.translate(t, _ACCENTED, _FOLDED)
    t = F.regexp_replace(t, r"'s ", " ")
    t = F.regexp_replace(t, r"'s$", "")
    t = F.translate(t, ".\"'`", "")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


# SQL-string twin of normalize_surface_col, for DuckDB oracles.
NORMALIZE_SQL = (
    "trim(regexp_replace("
    "replace(replace(replace(replace("
    "regexp_replace(regexp_replace("
    "regexp_replace(lower({col}), '^the ', ''), "
    "''''||'s ', ' '), ''''||'s$', ''), "
    "'.', ''), '\"', ''), '''', ''), '`', ''),"
    " '\\s+', ' ', 'g'))"
)


def title_to_key_col(c: Column) -> Column:
    """Operator F2 (title canonicalization before redirect/sitelink joins):
    HTML-entity unescape + uppercase first character.
    Reference: /root/reference/src/refined/offline_data_generation/generate_pem.py:25-43.
    """
    t = c
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&le;", "≤"), ("&ge;", "≥"), ("&amp;", "&")):
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return F.concat(F.upper(F.substring(t, 1, 1)), F.substr(t, F.lit(2), F.length(t)))


def remove_wiki_brackets_col(c: Column) -> Column:
    """Operator F3: strip a trailing ' (…)' disambiguator.
    Reference: /root/reference/src/refined/resource_management/loaders.py:207-215."""
    return F.regexp_replace(c, r" \([^()]*\)$", "")


def qcode_to_int_col(c: Column) -> Column:
    """Operator F8: 'Q42' -> 42.
    Reference: /root/reference/src/refined/model_components/refined_model.py:496-499."""
    return F.regexp_replace(c, "^Q", "").cast("long")
