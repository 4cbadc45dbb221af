"""Driver-contract query catalog: every SURVEY.md §2 operator family gets a
(spark query, DuckDB oracle SQL) pair over the driver's parquet tables at
sf_dir (region nation customer supplier part orders lineitem events
documents embeddings).

Rules that keep the value-hash comparison honest:
  - every computed column is aliased identically in Spark and SQL;
  - float columns derived from accumulation order are rounded (4-6 dp);
    single divisions/products of exact inputs are left exact;
  - no timestamp outputs (formatted to strings where needed);
  - deterministic ORDER-insensitive outputs (the driver sorts), ties never
    decide row membership.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from refined_spark.functions.hashing import MD5_HASH64_SQL, minhash_sig_sql
from refined_spark.functions.normalize import NORMALIZE_SQL, normalize_surface_col
from refined_spark.functions import text as T
from refined_spark.operators import ann, dedup
from refined_spark.session import spread_scan

N_MINHASH = 8  # keep the SQL twin compact


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------- TPC-H-ish
def q_pricing_summary(spark, sf_dir):
    """A6-family: partial+final hash aggregation with derived columns
    (TPC-H Q1 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                             AS sum_qty,
       round(sum(l_extendedprice), 2)                        AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)     AS sum_disc_price,
       round(avg(l_quantity), 4)                             AS avg_qty,
       count(*)                                              AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark, sf_dir):
    """J-family multi-join + agg (TPC-H Q5 shape): customer-order-lineitem
    joined through nation/region dims (broadcast-able)."""
    # project to the three used columns, then spread the join probes and
    # partial aggregation when fewer scan splits than cores hold rows; the
    # narrow projection keeps the repartition exchange small
    li = spread_scan(_t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    ))
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name", "r_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count_distinct("o_orderkey").alias("n_orders"),
        )
    )


SQL_REVENUE_BY_NATION = """
SELECT n_name, r_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(DISTINCT o_orderkey)                        AS n_orders
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY n_name, r_name
"""


def q_topk_orders_per_customer(spark, sf_dir):
    """A3-family: windowed top-k (rank filter pushed as group-limit)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


SQL_TOPK_ORDERS = """
SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
) WHERE rank <= 3
"""


def q_prediction_metrics(spark, sf_dir):
    """J7/T1/A6: tp/fp/fn set algebra as joins + monoid fold. 'pred' =
    high-value orders, 'gold' = fulfilled orders; keys are order ids."""
    o = _t(spark, sf_dir, "orders")
    pred = o.where(F.col("o_totalprice") > 150000).select("o_orderkey")
    gold = o.where(F.col("o_orderstatus") == "F").select("o_orderkey")
    tp = pred.join(gold, "o_orderkey", "left_semi").count()
    fp = pred.join(gold, "o_orderkey", "left_anti").count()
    fn = gold.join(pred, "o_orderkey", "left_anti").count()
    return _t(spark, sf_dir, "region").sparkSession.createDataFrame(
        [(tp, fp, fn)], "tp long, fp long, fn long"
    )


SQL_PREDICTION_METRICS = """
WITH pred AS (SELECT o_orderkey FROM orders WHERE o_totalprice > 150000),
     gold AS (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
SELECT
  (SELECT count(*) FROM pred WHERE o_orderkey IN (SELECT o_orderkey FROM gold))     AS tp,
  (SELECT count(*) FROM pred WHERE o_orderkey NOT IN (SELECT o_orderkey FROM gold)) AS fp,
  (SELECT count(*) FROM gold WHERE o_orderkey NOT IN (SELECT o_orderkey FROM pred)) AS fn
"""


# ------------------------------------------------------- dictionary / ER ops
def q_normalize_surface(spark, sf_dir):
    """F1: the blocking-key normalization (builtin column path) applied to
    part names (the stringiest column around)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey", normalize_surface_col(F.col("p_name")).alias("block_key")
    )


SQL_NORMALIZE = f"""
SELECT p_partkey, {NORMALIZE_SQL.format(col='p_name')} AS block_key FROM part
"""


def q_pem_build(spark, sf_dir):
    """A1+A2+A3: link-count aggregation -> prior normalization -> ranked
    top-k, flattened. Evidence: token->source-label co-occurrence over the
    documents corpus (same algebra as surface->qcode link counts)."""
    from refined_spark.operators.pem import build_pem, pem_flat

    d = _t(spark, sf_dir, "documents")
    ev = (
        d.select(F.explode(F.split("text", " ")).alias("surface_form"), F.col("source"))
        .where(F.col("surface_form") != "")
        .select("surface_form", F.col("source").alias("qcode"), F.lit(1.0).alias("cnt"))
    )
    flat = pem_flat(build_pem(ev, max_candidates=30))
    return flat.select("surface_form", "qcode", F.round("prior", 6).alias("prior"), "rank")


SQL_PEM_BUILD = """
WITH ev AS (
  SELECT unnest(string_split(text, ' ')) AS surface_form, source AS qcode
  FROM documents
), counts AS (
  SELECT surface_form, qcode, count(*)::DOUBLE AS cnt
  FROM ev WHERE surface_form <> '' GROUP BY surface_form, qcode
), priors AS (
  SELECT surface_form, qcode,
         cnt / sum(cnt) OVER (PARTITION BY surface_form) AS prior
  FROM counts
), ranked AS (
  SELECT surface_form, qcode, prior,
         row_number() OVER (PARTITION BY surface_form
                            ORDER BY prior DESC, qcode ASC) AS rank
  FROM priors
)
SELECT surface_form, qcode, round(prior, 6) AS prior, rank
FROM ranked WHERE rank <= 30
"""


def q_candidate_join(spark, sf_dir):
    """J1: the blocking join — every doc token probes the dictionary built
    by q_pem_build; misses kept (left join) like the reference's
    empty-candidate path. Returns per-token best candidate (C5 argmax)."""
    from refined_spark.operators.pem import build_pem, pem_flat

    d = _t(spark, sf_dir, "documents")
    ev = (
        d.select(F.explode(F.split("text", " ")).alias("surface_form"), "source")
        .where(F.col("surface_form") != "")
        .select("surface_form", F.col("source").alias("qcode"), F.lit(1.0).alias("cnt"))
    )
    flat = pem_flat(build_pem(ev, max_candidates=30))
    mentions = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
        .distinct()
    )

    # the argmax depends only on the token, so it collapses on the
    # dictionary side BEFORE the join: the old plan joined every mention
    # against all <=30 candidates of its token (a ~25x row explosion at
    # sf1.0) and re-ran the same max_by per (doc, token). One aggregate
    # per distinct surface + a 1:1 left join is the identical result —
    # the max_by ordering struct (prior, then qcode, both ascending max)
    # is unchanged, so ties break exactly as before.
    best_per_surface = flat.groupBy("surface_form").agg(
        F.max_by(
            F.struct(F.col("qcode"), F.col("prior")),
            F.struct(F.col("prior").alias("p"), F.col("qcode").alias("q")),
        ).alias("best")
    )
    joined = mentions.join(
        best_per_surface,
        mentions["token"] == best_per_surface["surface_form"],
        "left",
    )
    return joined.select(
        "doc_id",
        "token",
        F.col("best.qcode").alias("qcode"),
        F.round(F.col("best.prior"), 6).alias("prior"),
    )


SQL_CANDIDATE_JOIN = """
WITH ev AS (
  SELECT unnest(string_split(text, ' ')) AS surface_form, source AS qcode
  FROM documents
), counts AS (
  SELECT surface_form, qcode, count(*)::DOUBLE AS cnt
  FROM ev WHERE surface_form <> '' GROUP BY surface_form, qcode
), pem AS (
  SELECT surface_form, qcode,
         cnt / sum(cnt) OVER (PARTITION BY surface_form) AS prior
  FROM counts
), mentions AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents
), best AS (
  SELECT m.doc_id, m.token, p.qcode, p.prior,
         row_number() OVER (PARTITION BY m.doc_id, m.token
                            ORDER BY p.prior DESC NULLS LAST, p.qcode DESC) AS rn
  FROM (SELECT * FROM mentions WHERE token <> '') m
  LEFT JOIN pem p ON m.token = p.surface_form
)
SELECT doc_id, token, qcode, round(prior, 6) AS prior
FROM best WHERE rn = 1
"""


def q_transitive_closure(spark, sf_dir):
    """T3: iterative frontier join over the customer->nation->region
    hierarchy expressed as a child/parent edge list."""
    from refined_spark.operators.closure import transitive_closure

    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    e1 = c.select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("child"),
        F.concat(F.lit("N"), F.col("c_nationkey")).alias("parent"),
    )
    e2 = n.select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("child"),
        F.concat(F.lit("R"), F.col("n_regionkey")).alias("parent"),
    )
    return transitive_closure(e1.unionByName(e2)).select("child", "ancestor")


SQL_CLOSURE = """
WITH edges AS (
  SELECT 'C' || c_custkey AS child, 'N' || c_nationkey AS parent FROM customer
  UNION ALL
  SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
)
SELECT child, parent AS ancestor FROM edges
UNION
SELECT a.child, b.parent AS ancestor FROM edges a JOIN edges b ON a.parent = b.child
"""


# ----------------------------------------------------------------- dedup ops
# 64-char prefix dedup: the test corpora contain no byte-identical FULL
# documents at sf0.01 (rounds 1-4 compared 0==0 rows — a vacuous gate), but
# 22 real prefix-collision groups exist there (227 at sf0.1), so the prefix
# variant makes the scoreboard row compare real data while the operator
# keeps full-document hashing as its default.
_DEDUP_PREFIX = 64


def q_dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dedup.exact_duplicates(d, prefix_chars=_DEDUP_PREFIX).select(
        "content_hash", "n_dups", F.col("keeper").cast("long").alias("keeper")
    )


_NORM_TEXT_SQL = r"regexp_replace(trim(lower(text)), '\s+', ' ', 'g')"
_CONTENT_HASH_SQL = MD5_HASH64_SQL.format(
    col=f"substr({_NORM_TEXT_SQL}, 1, {_DEDUP_PREFIX})"
)
SQL_DEDUP_EXACT = f"""
WITH h AS (
  SELECT doc_id,
         {_CONTENT_HASH_SQL} AS content_hash
  FROM documents
)
SELECT content_hash, count(*) AS n_dups, min(doc_id)::BIGINT AS keeper
FROM h GROUP BY content_hash HAVING count(*) > 1
"""


def q_minhash_signatures(spark, sf_dir):
    """MinHash signatures, exploded long-form for stable value comparison.
    Input repartitioned first: per-row hashing is CPU-bound and the small
    bench files arrive as a single split."""
    d = spread_scan(_t(spark, sf_dir, "documents"))
    sigs = dedup.minhash_signatures(d, k=5, num_hashes=N_MINHASH)
    # posexplode_outer on purpose: plain posexplode adds a size()>0 filter
    # that Catalyst pushes below the repartition WITH the whole signature
    # expression inlined — recomputing the hashes once more on the
    # pre-repartition split. sig is never empty, so outer is identical.
    return sigs.select(
        "doc_id", F.posexplode_outer("sig").alias("hash_idx", "hash_value")
    )


def _sql_shingles(col: str, k: int = 5) -> str:
    norm = f"regexp_replace(trim(lower({col})), '\\s+', ' ', 'g')"
    return (
        f"list_distinct([substr({norm}, i, {k}) "
        f"for i in range(1, greatest(length({norm}) - {k - 1}, 1) + 1)])"
    )


def _sql_minhash_long(num_hashes: int = N_MINHASH) -> str:
    from refined_spark.functions.hashing import MASK60

    rows = []
    for i in range(num_hashes):
        rows.append(
            f"SELECT doc_id, {i} AS hash_idx, "
            f"list_min(list_transform(base, b -> (b.h1 + {i} * b.h2) & {MASK60})) AS hash_value "
            f"FROM base_t"
        )
    return " UNION ALL ".join(rows)


SQL_MINHASH = f"""
WITH sh_t AS (
  SELECT doc_id, {_sql_shingles('text')} AS sh FROM documents
), base_t AS (
  SELECT doc_id, list_transform(sh, s -> struct_pack(
           h1 := ('0x' || substr(md5(s),1,15))::BIGINT,
           h2 := ('0x' || substr(md5(s),16,14))::BIGINT)) AS base
  FROM sh_t
)
{_sql_minhash_long()}
"""


NGRAM_DF_CAP = 1000  # frequent-shingle pruning bound, mirrored in the oracle


def q_ngram_jaccard(spark, sf_dir):
    d = spread_scan(_t(spark, sf_dir, "documents"))
    return dedup.ngram_jaccard_pairs(
        d, n=3, threshold=0.5, df_cap=NGRAM_DF_CAP
    ).select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        "jaccard",
    )


SQL_NGRAM_JACCARD = f"""
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
              ELSE [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)] END) AS g
  FROM toks
), inv AS (
  SELECT doc_id, unnest(g) AS gram FROM grams
), rinv AS (
  SELECT doc_id, gram FROM inv
  QUALIFY count(*) OVER (PARTITION BY gram) <= {NGRAM_DF_CAP}
), sizes AS (
  SELECT doc_id, count(*) AS n_grams FROM rinv GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM rinv a JOIN rinv b USING (gram)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_common::DOUBLE / (sa.n_grams + sb.n_grams - n_common)::DOUBLE,
             6) AS jaccard
FROM common
JOIN sizes sa ON common.doc_a = sa.doc_id
JOIN sizes sb ON common.doc_b = sb.doc_id
WHERE n_common::DOUBLE / (sa.n_grams + sb.n_grams - n_common)::DOUBLE >= 0.5
"""


# ------------------------------------------------------------------- ANN ops
def q_ann_bruteforce(spark, sf_dir):
    e = spread_scan(_t(spark, sf_dir, "embeddings"))
    queries = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann.cosine_topk_bruteforce(e, queries, k=10).where(
        F.col("query_id") != F.col("vec_id")
    )


SQL_ANN_BRUTE = """
WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, v.vec_id,
         round(
           list_dot_product(q.q_emb::DOUBLE[], v.embedding::DOUBLE[]) /
           (sqrt(list_dot_product(q.q_emb::DOUBLE[], q.q_emb::DOUBLE[])) *
            sqrt(list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[]))),
           6) AS cos
  FROM embeddings v CROSS JOIN q
), ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos, rank FROM ranked
WHERE rank <= 10 AND query_id <> vec_id
"""


# ------------------------------------------------------------------ text ops
def q_token_stats(spark, sf_dir):
    # single-row-group input file: without the repartition the whole map
    # stage runs on one core (scan splits cannot cross row groups)
    d = spread_scan(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        T.token_count_col(F.col("text")).alias("n_tokens"),
        F.round(T.stopword_ratio_col(F.col("text")), 6).alias("stopword_ratio"),
    )


_SW = ", ".join(f"'{w}'" for w in T.EN_STOPWORDS)
SQL_TOKEN_STATS = f"""
WITH toks AS (
  SELECT doc_id, string_split(trim(lower(text)), ' ') AS w FROM documents
)
SELECT doc_id, len(w) AS n_tokens,
       round(len(list_filter(w, x -> x IN ({_SW})))::DOUBLE /
             greatest(len(w), 1)::DOUBLE, 6) AS stopword_ratio
FROM toks
"""


def q_quality_score(spark, sf_dir):
    d = spread_scan(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", T.quality_score_col(F.col("text")).alias("quality"))


SQL_QUALITY = f"""
WITH b AS (
  SELECT doc_id, text,
         length(text)::DOUBLE AS n_chars,
         length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::DOUBLE AS alpha,
         length(regexp_replace(text, '[^!?.,;:]', '', 'g'))::DOUBLE AS punct,
         len(list_filter(string_split(trim(lower(text)), ' '),
             x -> x IN ({_SW})))::DOUBLE /
           greatest(len(string_split(trim(lower(text)), ' ')), 1)::DOUBLE AS sw
  FROM documents
)
SELECT doc_id,
       round(0.3 * least(n_chars / 500.0, 1.0)
           + 0.3 * (alpha / greatest(n_chars, 1.0))
           + 0.3 * least(sw * 4.0, 1.0)
           + 0.1 * (1.0 - least(punct / greatest(n_chars, 1.0) * 5.0, 1.0)),
           6) AS quality
FROM b
"""


def q_fingerprint(spark, sf_dir):
    d = spread_scan(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", T.fingerprint_col(F.col("text")).alias("fingerprint"))


SQL_FINGERPRINT = f"""
WITH toks AS (
  SELECT doc_id, string_split(trim(lower(text)), ' ') AS w FROM documents
)
SELECT doc_id,
       CAST(list_sum(
         [ ((('0x' || substr(md5(w[i]), 1, 14))::BIGINT)::HUGEINT *
            ([{', '.join(str(31**j) for j in range(8))}][((i - 1) % 8) + 1]::HUGEINT))
           for i in range(1, len(w) + 1) ]
       ) % {1 << 60}::HUGEINT AS BIGINT) AS fingerprint
FROM toks
"""


def q_lang_id(spark, sf_dir):
    d = spread_scan(_t(spark, sf_dir, "documents"))
    s = T.lang_id_struct_col(F.col("text"))
    return d.select(
        "doc_id", s["lang"].alias("lang_pred"), F.round(s["score"], 6).alias("lang_score")
    )


def _sql_lang_score(lang: str) -> str:
    sw = ", ".join(f"'{w}'" for w in T.LANG_STOPWORDS[lang])
    return (
        f"len(list_filter(w, x -> x IN ({sw})))::DOUBLE / greatest(len(w),1)::DOUBLE"
    )


SQL_LANG_ID = f"""
WITH toks AS (
  SELECT doc_id, string_split(trim(lower(text)), ' ') AS w FROM documents
), scored AS (
  SELECT doc_id,
         [{', '.join("{'score': " + _sql_lang_score(lang) + ", 'lang': '" + lang + "'}" for lang in sorted(T.LANG_STOPWORDS))}] AS ls
  FROM toks
), best AS (
  SELECT doc_id, list_max(list_transform(ls, s -> (s.score, s.lang))) AS b FROM scored
)
SELECT doc_id, b[2] AS lang_pred, round(b[1], 6) AS lang_score FROM best
"""


# ---------------------------------------------------------------- streaming-ish
def q_event_sessionize(spark, sf_dir):
    """Window/lag sequence op (C6-family BIO-decode skeleton): sessionize
    events per user with a 30-minute gap rule, report session row counts."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.when(
        F.unix_timestamp(F.col("ts").cast("timestamp")) - F.lag(F.unix_timestamp(F.col("ts").cast("timestamp"))).over(w) > 1800, 1
    ).otherwise(0)
    sess = F.sum(gap).over(w)
    return (
        e.withColumn("session_idx", sess)
        .groupBy("user_id", "session_idx")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("session_value"))
    )


SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              THEN 1 ELSE 0 END AS gap
  FROM events
), s AS (
  SELECT user_id, value,
         sum(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM g
)
SELECT user_id, session_idx::BIGINT AS session_idx, count(*) AS n_events,
       round(sum(value), 4) AS session_value
FROM s GROUP BY user_id, session_idx
"""


def q_denylist_filter(spark, sf_dir):
    """P2: denylist anti-filter via array_intersect on tokenized type."""
    p = _t(spark, sf_dir, "part")
    deny = F.array(F.lit("small"), F.lit("mini"))
    return p.where(
        F.size(F.array_intersect(F.split(F.lower("p_type"), " "), deny)) == 0
    ).select("p_partkey", "p_type")


SQL_DENYLIST = """
SELECT p_partkey, p_type FROM part
WHERE len(list_filter(string_split(lower(p_type), ' '),
          x -> x IN ('small', 'mini'))) = 0
"""


# ------------------------------------------------- dedup / ANN (scale paths)
def q_minhash_lsh_pairs(spark, sf_dir):
    """MinHash-LSH candidate pair generation: band the signature, bucket-join
    on the band hash (the 100 TB dedup path — never a cross join)."""
    d = spread_scan(_t(spark, sf_dir, "documents"))
    sigs = dedup.minhash_signatures(d, k=5, num_hashes=N_MINHASH)
    return dedup.lsh_candidate_pairs(sigs, bands=4, num_hashes=N_MINHASH).select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
    )


SQL_MINHASH_LSH_PAIRS = f"""
WITH sh_t AS (
  SELECT doc_id, {_sql_shingles('text')} AS sh FROM documents
), sig_t AS (
  SELECT doc_id, {minhash_sig_sql('sh', N_MINHASH)} AS sig FROM sh_t
), banded AS (
  SELECT doc_id, b.band_id,
         md5(sig[2*b.band_id + 1]::VARCHAR || ',' || sig[2*b.band_id + 2]::VARCHAR) AS band_hash
  FROM sig_t, (SELECT unnest(range(4)) AS band_id) b
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b USING (band_id, band_hash)
WHERE a.doc_id < b.doc_id
"""


def q_simhash(spark, sf_dir):
    """SimHash document fingerprints at the full 64-bit width (per-bit
    majority vote in dedup.simhash_table's Arrow kernel — see its docstring
    for why 16-bit hashes stop discriminating past ~10^6 docs)."""
    d = spread_scan(_t(spark, sf_dir, "documents"))
    return dedup.simhash_table(d, num_bits=64)


def _sql_simhash_terms(num_bits: int) -> str:
    """Per-bit majority-vote terms over hs1 (md5 hex 1-15, bits 0-59) and
    hs2 (hex char 16, bits 60-63). Bit 63 is the BIGINT sign bit: its term
    adds -2^63, which in two's complement IS setting bit 63 (all other
    terms sum below 2^63, so no intermediate overflow)."""
    terms = []
    for bit in range(num_bits):
        col, sh = ("hs1", bit) if bit < 60 else ("hs2", bit - 60)
        p = (1 << bit) if bit < 63 else -(1 << 63)
        terms.append(
            f"(CASE WHEN 2 * len(list_filter({col}, v -> (v >> {sh}) & 1 = 1)) "
            f"> len({col}) THEN {p} ELSE 0 END)"
        )
    return " + ".join(terms)


def _sql_simhash(num_bits: int = 64) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
), h AS (
  SELECT doc_id,
         list_transform(w, t -> ('0x' || substr(md5(t),1,15))::BIGINT) AS hs1,
         list_transform(w, t -> ('0x' || substr(md5(t),16,1))::BIGINT) AS hs2
  FROM toks
)
SELECT doc_id, ({_sql_simhash_terms(num_bits)})::BIGINT AS simhash FROM h
"""


SQL_SIMHASH = _sql_simhash(64)


_SIMHASH_RADIUS = 3


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs within hamming radius > 0 — exact pigeonhole
    block blocking (radius+1 blocks; any pair within the radius shares one
    whole block) + bit_count(xor) verify, at the canonical 64-bit / radius-3
    web-dedup parameters. The brute-force DuckDB oracle checks recall is
    exactly 1."""
    d = spread_scan(_t(spark, sf_dir, "documents"))
    return dedup.simhash_pairs(d, num_bits=64, radius=_SIMHASH_RADIUS).select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        "hamming",
    )


def _sql_simhash_pairs(num_bits: int = 64, radius: int = _SIMHASH_RADIUS) -> str:
    # brute-force all-pairs oracle: fine at sf0.01, and deliberately NOT the
    # engine's blocked plan — the comparison proves the blocking is lossless
    return f"""
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents
), h AS (
  SELECT doc_id,
         list_transform(w, t -> ('0x' || substr(md5(t),1,15))::BIGINT) AS hs1,
         list_transform(w, t -> ('0x' || substr(md5(t),16,1))::BIGINT) AS hs2
  FROM toks
), s AS (
  SELECT doc_id, ({_sql_simhash_terms(num_bits)})::BIGINT AS simhash FROM h
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {radius}
"""


SQL_SIMHASH_PAIRS = _sql_simhash_pairs()


def _sql_plane_literal(p: list[float]) -> str:
    return "[" + ", ".join(repr(float(x)) for x in p) + "]"


def _sql_lsh_bucket(planes: list[list[float]], emb: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN list_dot_product({emb}::DOUBLE[], {_sql_plane_literal(p)}) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"({terms})::BIGINT"


_NEARDUP_BITS = 6
_EMB_DIM = 64
# 0.35, not the 0.9 a production near-dup job would use: the test-corpus
# embeddings are near-orthogonal (max pairwise cosine 0.51 at sf0.01, 0.60
# at sf0.1), so a 0.9 threshold compared 0==0 rows — a vacuous gate. 0.35
# sits in the corpus's actual near-pair range: 11 single-rotation / 46
# multi-rotation pairs at sf0.01, 264/709 at sf0.1, all oracle-checked by
# value. The planted-pair recall tests in tests/test_ann.py carry the
# high-threshold semantics.
_NEARDUP_THRESHOLD = 0.35


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicates, blocked by random-hyperplane LSH
    bucket (the pairs-at-scale path: bucket equi-join, no cross join)."""
    e = spread_scan(_t(spark, sf_dir, "embeddings"))
    return ann.embedding_near_dups(
        e, dim=_EMB_DIM, threshold=_NEARDUP_THRESHOLD, bits=_NEARDUP_BITS
    )


def _sql_embedding_neardup() -> str:
    from refined_spark.operators.ann import hyperplanes

    planes = hyperplanes(_EMB_DIM, _NEARDUP_BITS)
    bucket = _sql_lsh_bucket(planes, "embedding")
    return f"""
WITH v AS (
  SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(
           list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
           (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
            sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
           6) AS cos
  FROM v a JOIN v b USING (bucket)
  WHERE a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos FROM pairs WHERE cos >= {_NEARDUP_THRESHOLD}
"""


SQL_EMBEDDING_NEARDUP = _sql_embedding_neardup()


_NEARDUP_ROTATIONS = 3


def q_embedding_neardup_multirot(spark, sf_dir):
    """Embedding near-dup with multi-rotation blocking: pairs are the union
    over 3 independent hyperplane sets, so a near-dup straddling one
    rotation's bucket boundary is still caught — the recall-at-scale path
    on top of q_embedding_neardup's single-rotation trade."""
    e = _t(spark, sf_dir, "embeddings")
    return ann.embedding_near_dups(
        e, dim=_EMB_DIM, threshold=_NEARDUP_THRESHOLD, bits=_NEARDUP_BITS,
        rotations=_NEARDUP_ROTATIONS,
    )


def _sql_embedding_neardup_multirot() -> str:
    from refined_spark.operators.ann import rotation_planes

    rb = ", ".join(
        "struct_pack(rot := {r}, b := {b})".format(
            r=r,
            b=_sql_lsh_bucket(
                rotation_planes(_EMB_DIM, _NEARDUP_BITS, r), "embedding"
            ),
        )
        for r in range(_NEARDUP_ROTATIONS)
    )
    return f"""
WITH vb AS (
  SELECT vec_id, rb.rot AS rot, rb.b AS bucket
  FROM (SELECT vec_id, unnest([{rb}]) AS rb FROM embeddings)
), p AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM vb a JOIN vb b USING (rot, bucket)
  WHERE a.vec_id < b.vec_id
), scored AS (
  SELECT p.id_a, p.id_b,
         round(
           list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) /
           (sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[])) *
            sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]))),
           6) AS cos
  FROM p
  JOIN embeddings ea ON ea.vec_id = p.id_a
  JOIN embeddings eb ON eb.vec_id = p.id_b
)
SELECT id_a, id_b, cos FROM scored WHERE cos >= {_NEARDUP_THRESHOLD}
"""


SQL_EMBEDDING_NEARDUP_MULTIROT = _sql_embedding_neardup_multirot()


def q_ann_lsh(spark, sf_dir):
    """IVF/LSH-bucketed ANN top-k: the scale path (bucket join + exact
    re-rank inside the bucket) next to q_ann_bruteforce's exact baseline."""
    e = spread_scan(_t(spark, sf_dir, "embeddings"))
    queries = e.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann.cosine_topk_lsh(
        e, queries, dim=_EMB_DIM, k=5, bits=_NEARDUP_BITS
    ).where(F.col("query_id") != F.col("vec_id"))


def _sql_ann_lsh() -> str:
    from refined_spark.operators.ann import hyperplanes

    planes = hyperplanes(_EMB_DIM, _NEARDUP_BITS)
    bucket = _sql_lsh_bucket(planes, "embedding")
    return f"""
WITH v AS (
  SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding AS q_emb, bucket FROM v WHERE vec_id < 20
), scored AS (
  SELECT q.query_id, v.vec_id,
         round(
           list_dot_product(q.q_emb::DOUBLE[], v.embedding::DOUBLE[]) /
           (sqrt(list_dot_product(q.q_emb::DOUBLE[], q.q_emb::DOUBLE[])) *
            sqrt(list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[]))),
           6) AS cos
  FROM v JOIN q USING (bucket)
), ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos, rank FROM ranked
WHERE rank <= 5 AND query_id <> vec_id
"""


SQL_ANN_LSH = _sql_ann_lsh()


_ANN_PROBES = 3


def q_ann_multiprobe(spark, sf_dir):
    """Multi-probe ANN: searches the query's own bucket plus the probes-1
    buckets reached by flipping the lowest-|margin| signature bit — recall
    climbs toward brute force without shrinking bucket granularity."""
    e = _t(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann.cosine_topk_lsh(
        e, queries, dim=_EMB_DIM, k=5, bits=_NEARDUP_BITS, probes=_ANN_PROBES
    ).where(F.col("query_id") != F.col("vec_id"))


def _sql_ann_multiprobe() -> str:
    from refined_spark.operators.ann import hyperplanes

    planes = hyperplanes(_EMB_DIM, _NEARDUP_BITS)
    bucket = _sql_lsh_bucket(planes, "embedding")
    # round(..., 6) mirrors the engine (ann.lsh_probe_buckets_col): without
    # it a float near-tie between two plane margins can order the probe
    # flips differently in the two engines and flake the gate
    margin_structs = ", ".join(
        "struct_pack(m := round(abs(list_dot_product(embedding::DOUBLE[], "
        f"{_sql_plane_literal(p)})), 6), i := {i})"
        for i, p in enumerate(planes)
    )
    probe_flips = ", ".join(
        f"xor(sig, (1::BIGINT << margins[{j}].i))"
        for j in range(1, _ANN_PROBES)
    )
    return f"""
WITH v AS (
  SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
), q0 AS (
  SELECT vec_id AS query_id, embedding AS q_emb, {bucket} AS sig,
         list_sort([{margin_structs}]) AS margins
  FROM embeddings WHERE vec_id < 20
), qb AS (
  SELECT query_id, q_emb,
         unnest([sig, {probe_flips}]) AS bucket
  FROM q0
), scored AS (
  SELECT qb.query_id, v.vec_id,
         round(
           list_dot_product(qb.q_emb::DOUBLE[], v.embedding::DOUBLE[]) /
           (sqrt(list_dot_product(qb.q_emb::DOUBLE[], qb.q_emb::DOUBLE[])) *
            sqrt(list_dot_product(v.embedding::DOUBLE[], v.embedding::DOUBLE[]))),
           6) AS cos
  FROM v JOIN qb USING (bucket)
), ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos, rank FROM ranked
WHERE rank <= 5 AND query_id <> vec_id
"""


SQL_ANN_MULTIPROBE = _sql_ann_multiprobe()


_IVF_CELLS = 8
_IVF_PROBE = 2


def q_ann_ivf(spark, sf_dir):
    """IVF coarse-quantizer ANN next to the hyperplane-LSH scale path:
    centroids are a deterministic md5-ordered sample of the corpus, every
    vector keeps its max-cosine cell, queries probe their n_probe nearest
    cells, exact re-rank inside. Data-adaptive where LSH is oblivious."""
    e = _t(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann.ivf_topk(
        e, queries, k=5, n_cells=_IVF_CELLS, n_probe=_IVF_PROBE
    ).where(F.col("query_id") != F.col("vec_id"))


_SQL_COS = (
    "round(list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) /"
    " (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) *"
    " sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))), 6)"
)

SQL_ANN_IVF = f"""
WITH c AS (
  SELECT vec_id AS cent_id, embedding AS c_emb FROM embeddings
  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {_IVF_CELLS}
), va AS (
  SELECT v.vec_id, v.embedding, c.cent_id,
         {_SQL_COS.format(a='v.embedding', b='c.c_emb')} AS ccos
  FROM embeddings v CROSS JOIN c
), v AS (
  SELECT vec_id, embedding, cent_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY ccos DESC, cent_id ASC) AS r
    FROM va) WHERE r = 1
), q AS (
  SELECT vec_id AS query_id, embedding AS q_emb, cent_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY ccos DESC, cent_id ASC) AS r
    FROM va WHERE vec_id < 20) WHERE r <= {_IVF_PROBE}
), scored AS (
  SELECT q.query_id, v.vec_id,
         {_SQL_COS.format(a='q.q_emb', b='v.embedding')} AS cos
  FROM v JOIN q USING (cell)
), ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos, rank FROM ranked
WHERE rank <= 5 AND query_id <> vec_id
"""


# -------------------------------------------------- sequence / interval / date
def q_bio_decode(spark, sf_dir):
    """C6: BIO tag-sequence decode to spans via window lag + running-sum
    segmentation. Token stream synthesized deterministically from lineitem
    (l_returnflag: R -> B-ENT, A -> I-ENT, N -> O), so the malformed-I rule
    (an I- without a preceding B- starts a span) is exercised."""
    from refined_spark.operators.bio import decode_bio

    # one exchange for the whole query: hash(l_orderkey) satisfies the
    # (doc_id, token_idx) aggregation, the per-doc decode windows AND the
    # final span assembly, so EnsureRequirements inserts nothing further —
    # the old plan paid a second exchange re-hashing the 6M-row aggregate
    # by doc_id alone (and the 6-row-group scan capped the first stage at
    # 6 cores)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag"
    ).repartition(F.col("l_orderkey"))
    # l_linenumber is not unique per order in this synthetic data — collapse
    # to one token per (order, linenumber) with a deterministic min(tag)
    toks = (
        li.groupBy(
            F.col("l_orderkey").alias("doc_id"),
            F.col("l_linenumber").alias("token_idx"),
        )
        .agg(
            F.min(
                F.when(F.col("l_returnflag") == "R", "B-ENT")
                .when(F.col("l_returnflag") == "A", "I-ENT")
                .otherwise("O")
            ).alias("tag")
        )
        .select(
            "doc_id",
            "token_idx",
            (F.col("token_idx") * 10).alias("start"),
            (F.col("token_idx") * 10 + 5).alias("end"),
            "tag",
        )
    )
    return decode_bio(toks).select("doc_id", "start", "ln", "coarse_type")


SQL_BIO_DECODE = """
WITH toks AS (
  SELECT l_orderkey AS doc_id, l_linenumber AS token_idx,
         l_linenumber * 10 AS start, l_linenumber * 10 + 5 AS "end",
         min(CASE l_returnflag WHEN 'R' THEN 'B-ENT' WHEN 'A' THEN 'I-ENT'
              ELSE 'O' END) AS tag
  FROM lineitem GROUP BY 1, 2, 3, 4
), t2 AS (
  SELECT *,
         CASE WHEN tag = 'O' THEN NULL ELSE split_part(tag, '-', 2) END AS t,
         lag(tag) OVER w AS prev_tag,
         lag(CASE WHEN tag = 'O' THEN NULL ELSE split_part(tag, '-', 2) END)
           OVER w AS prev_type
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY token_idx)
), t3 AS (
  SELECT *,
         CASE WHEN tag LIKE 'B-%' THEN 1
              WHEN tag LIKE 'I-%' AND
                   (prev_tag IS NULL OR prev_tag = 'O' OR prev_type <> t) THEN 1
              ELSE 0 END AS is_start
  FROM t2
), t4 AS (
  SELECT *, sum(is_start) OVER (PARTITION BY doc_id ORDER BY token_idx
                                ROWS UNBOUNDED PRECEDING) AS seg
  FROM t3
)
SELECT doc_id, min(start) AS start, max("end") - min(start) AS ln,
       arg_min(t, token_idx) AS coarse_type
FROM t4 WHERE t IS NOT NULL GROUP BY doc_id, seg
"""


def q_span_overlap_merge(spark, sf_dir):
    """J6: interval-overlap anti-join merge — 'click' event windows are
    prioritized spans; 'error' windows merge in only where they do not
    overlap a click window of the same user."""
    from refined_spark.operators.spans import merge_spans_overlap

    e = _t(spark, sf_dir, "events")
    base = e.select(
        F.col("user_id").alias("doc_id"),
        F.unix_timestamp(F.col("ts")).alias("start"),
        F.lit(300).alias("ln"),
        "event_type",
    )
    pri = base.where(F.col("event_type") == "click").drop("event_type").withColumn(
        "src", F.lit("click")
    )
    add = base.where(F.col("event_type") == "error").drop("event_type").withColumn(
        "src", F.lit("error")
    )
    return merge_spans_overlap(pri, add)


SQL_SPAN_OVERLAP = """
WITH base AS (
  SELECT user_id AS doc_id, epoch_us(ts) // 1000000 AS start, 300 AS ln, event_type
  FROM events
), pri AS (
  SELECT doc_id, start, ln, 'click' AS src FROM base WHERE event_type = 'click'
), ad AS (
  SELECT doc_id, start, ln, 'error' AS src FROM base WHERE event_type = 'error'
)
SELECT * FROM pri
UNION ALL
SELECT a.* FROM ad a
WHERE NOT EXISTS (
  SELECT 1 FROM pri p
  WHERE a.doc_id = p.doc_id
    AND a.start < p.start + p.ln AND p.start < a.start + a.ln
)
"""


def q_date_resolution(spark, sf_dir):
    """F6 + F7 + C10: fuzzy date parse (Arrow pandas UDF over dateutil) with
    DOC-LEVEL format consensus. Date mention strings are rendered 'd/M/yyyy'
    from o_orderdate; 'documents' are customers — a customer with any
    unambiguous day>12 order flips that customer's ambiguous dates to
    day-first, exactly the reference's consensus rule
    (date_utils.py:120-160). The oracle reconstructs the parser's contract
    (including the deliberately-wrong month-first readings for ambiguous
    dates in docs without evidence) from the original timestamp."""
    from refined_spark.operators.dates import resolve_date_spans

    o = _t(spark, sf_dir, "orders")
    mentions = o.select(
        F.col("o_custkey").alias("doc_id"),
        F.col("o_orderkey").alias("mention_id"),
        F.date_format("o_orderdate", "d/M/yyyy").alias("text"),
    )
    out = resolve_date_spans(mentions)
    return out.select(
        "doc_id",
        "mention_id",
        F.col("date.day").alias("day"),
        F.col("date.month").alias("month"),
        F.col("date.year").alias("year"),
        F.col("date.known_format").alias("known_format"),
    )


SQL_DATE_RESOLUTION = """
WITH m AS (
  SELECT o_custkey AS doc_id, o_orderkey AS mention_id,
         day(o_orderdate)::INT AS d, month(o_orderdate)::INT AS mo,
         year(o_orderdate)::INT AS y
  FROM orders
), flagged AS (
  SELECT *, (d <= 12 AND d <> mo) AS ambiguous FROM m
), evidence AS (
  SELECT doc_id, true AS doc_day_first FROM flagged
  WHERE NOT ambiguous AND d > 12 GROUP BY doc_id
)
SELECT f.doc_id, f.mention_id,
       CASE WHEN NOT f.ambiguous OR e.doc_day_first THEN f.d ELSE f.mo END AS day,
       CASE WHEN NOT f.ambiguous OR e.doc_day_first THEN f.mo ELSE f.d END AS month,
       f.y AS year,
       NOT f.ambiguous AS known_format
FROM flagged f LEFT JOIN evidence e USING (doc_id)
"""


# ------------------------------------------------------- eval-set readers (S5)
# The reader queries parse the reference's three labeled-dataset JSONL
# shapes (dataset_factory.py:21-114/:116-184/:262-320). The driver's table
# set has no such files, so a deterministic fixture (seeded, generated by
# fixtures.generate_eval_datasets at import time) provides them at a fixed
# path that the static DuckDB oracle SQL reads back via read_json.

EVAL_FIX_DIR = "/tmp/refined_spark_evalfix_v1"


def _ensure_eval_fixtures() -> str:
    import os

    marker = os.path.join(EVAL_FIX_DIR, "_DONE")
    if not os.path.exists(marker):
        from refined_spark.fixtures import generate_eval_datasets

        generate_eval_datasets(EVAL_FIX_DIR, n_docs=60, seed=42)
        with open(marker, "w") as f:
            f.write("ok")
    return EVAL_FIX_DIR


_ensure_eval_fixtures()

_RJ = "format='newline_delimited'"
_SQL_MAPS = f"""
red AS (SELECT * FROM read_json('{EVAL_FIX_DIR}/redirects.jsonl', {_RJ},
          columns={{'src_title':'VARCHAR','dest_title':'VARCHAR'}})),
wq AS (SELECT * FROM read_json('{EVAL_FIX_DIR}/wiki_qcode.jsonl', {_RJ},
          columns={{'wiki_title':'VARCHAR','qcode':'VARCHAR'}})),
dis AS (SELECT * FROM read_json('{EVAL_FIX_DIR}/disambig.jsonl', {_RJ},
          columns={{'qcode':'VARCHAR'}}))"""


def _eval_maps(spark):
    d = _ensure_eval_fixtures()
    red = spark.read.json(f"{d}/redirects.jsonl",
                          schema="src_title string, dest_title string")
    wq = spark.read.json(f"{d}/wiki_qcode.jsonl",
                         schema="wiki_title string, qcode string")
    dis = spark.read.json(f"{d}/disambig.jsonl", schema="qcode string")
    return d, red, wq, dis


def q_aida_reader(spark, sf_dir):
    """S5: AIDA-CoNLL-shaped JSONL -> gold spans (dataset_factory.py:21-114):
    first en.wikipedia URI per span, redirect hop, title->qcode,
    disambiguation/NIL filtering."""
    from refined_spark.sources.datasets import read_aida_jsonl

    d, red, wq, dis = _eval_maps(spark)
    out = read_aida_jsonl(spark, f"{d}/aida.jsonl", red, wq, dis)
    return out["spans"].select(
        "doc_id", "start", "length", "span_text", "title", "qcode"
    )


SQL_AIDA_READER = f"""
WITH raw AS (
  SELECT * FROM read_json('{EVAL_FIX_DIR}/aida.jsonl', {_RJ},
    columns={{'text':'VARCHAR',
              'spans':'STRUCT("start" BIGINT, length BIGINT, uris VARCHAR[])[]'}})
), ex AS (
  SELECT md5(text) AS doc_id, text, unnest(spans) AS sp FROM raw
), flat AS (
  SELECT doc_id, sp."start" AS start, sp.length AS length,
         substring(text, (sp."start" + 1)::INT, sp.length::INT) AS span_text,
         list_transform(
           list_filter(sp.uris, u -> contains(u, 'http://en.wikipedia.org/wiki/')),
           u -> replace(u, 'http://en.wikipedia.org/wiki/', '')) AS titles
  FROM ex
), linked AS (
  SELECT doc_id, start, length, span_text, titles[1] AS title
  FROM flat WHERE len(titles) > 0
), {_SQL_MAPS}
SELECT l.doc_id, l.start, l.length, l.span_text, l.title, w.qcode
FROM linked l
LEFT JOIN red r ON l.title = r.src_title
LEFT JOIN wq w ON coalesce(r.dest_title, l.title) = w.wiki_title
WHERE w.qcode IS NOT NULL AND w.qcode NOT IN (SELECT qcode FROM dis)
"""


def q_standard_reader(spark, sf_dir):
    """S5: standard-format JSONL (MSNBC/AQUAINT/ACE2004/CWEB/WIKI,
    dataset_factory.py:116-184): wiki_name 'NIL'/null = unlinked; spaces
    -> underscores before the title joins."""
    from refined_spark.sources.datasets import read_standard_jsonl

    d, red, wq, dis = _eval_maps(spark)
    out = read_standard_jsonl(spark, f"{d}/standard.jsonl", red, wq, dis)
    return out["spans"].select(
        "doc_id", "start", "length", "span_text", "title", "qcode"
    )


SQL_STANDARD_READER = f"""
WITH raw AS (
  SELECT * FROM read_json('{EVAL_FIX_DIR}/standard.jsonl', {_RJ},
    columns={{'text':'VARCHAR',
              'mentions':'STRUCT("start" BIGINT, length BIGINT, wiki_name VARCHAR)[]'}})
), ex AS (
  SELECT md5(text) AS doc_id, text, unnest(mentions) AS sp FROM raw
), linked AS (
  SELECT doc_id, sp."start" AS start, sp.length AS length,
         substring(text, (sp."start" + 1)::INT, sp.length::INT) AS span_text,
         replace(sp.wiki_name, ' ', '_') AS title
  FROM ex WHERE sp.wiki_name IS NOT NULL AND sp.wiki_name <> 'NIL'
), {_SQL_MAPS}
SELECT l.doc_id, l.start, l.length, l.span_text, l.title, w.qcode
FROM linked l
LEFT JOIN red r ON l.title = r.src_title
LEFT JOIN wq w ON coalesce(r.dest_title, l.title) = w.wiki_title
WHERE w.qcode IS NOT NULL AND w.qcode NOT IN (SELECT qcode FROM dis)
"""


def q_webqsp_reader(spark, sf_dir):
    """S5: WebQSP-shaped JSONL (dataset_factory.py:262-320): parallel
    [start,end] + qcode arrays, zipped positionally."""
    from refined_spark.sources.datasets import read_webqsp_jsonl

    d = _ensure_eval_fixtures()
    out = read_webqsp_jsonl(spark, f"{d}/webqsp.jsonl")
    return out["spans"].select("doc_id", "start", "length", "span_text", "qcode")


SQL_WEBQSP_READER = f"""
WITH raw AS (
  SELECT * FROM read_json('{EVAL_FIX_DIR}/webqsp.jsonl', {_RJ},
    columns={{'text':'VARCHAR','mentions':'BIGINT[][]','wikidata_id':'VARCHAR[]'}})
), ex AS (
  SELECT md5(text) AS doc_id, text,
         unnest(list_zip(mentions, wikidata_id)) AS z FROM raw
)
SELECT doc_id,
       struct_extract(z, 1)[1] AS start,
       struct_extract(z, 1)[2] - struct_extract(z, 1)[1] AS length,
       substring(text, (struct_extract(z, 1)[1] + 1)::INT,
                 (struct_extract(z, 1)[2] - struct_extract(z, 1)[1])::INT) AS span_text,
       struct_extract(z, 2) AS qcode
FROM ex
"""


# --------------------------------------- anchor extraction + weak labels (F4/J5)

_ANCHOR_RE_SQL = '<a href="([^"]+)">([^<]+)</a>'


def q_anchor_extract(spark, sf_dir):
    """F4: anchor-tag scan with offset rebasing into the tag-stripped text
    (merge_files_and_extract_links.py:52-68) + URI canonicalization
    (percent-decode, space->underscore, first-letter-uppercase) + redirect
    hop + title->qcode (:69-84)."""
    from refined_spark.sources.anchors import clean_anchor_links, extract_anchors

    d, red, wq, dis = _eval_maps(spark)
    pages = spark.read.json(
        f"{d}/wikipages.jsonl",
        schema="title string, text string, "
               "md_spans array<struct<start:long,ln:long,text:string>>",
    )
    docs = pages.select(F.col("title").alias("doc_id"), "text")
    return clean_anchor_links(extract_anchors(docs), red, wq, dis)


_SQL_ANCHORS_CTE = f"""
pages AS (
  SELECT title AS doc_id, text FROM read_json('{EVAL_FIX_DIR}/wikipages.jsonl', {_RJ},
    columns={{'title':'VARCHAR','text':'VARCHAR',
              'md_spans':'STRUCT("start" BIGINT, ln BIGINT, text VARCHAR)[]'}})
), parts AS (
  SELECT doc_id,
         string_split_regex(text, '{_ANCHOR_RE_SQL}') AS segs,
         regexp_extract_all(text, '{_ANCHOR_RE_SQL}', 1) AS uris,
         regexp_extract_all(text, '{_ANCHOR_RE_SQL}', 2) AS surfs
  FROM pages
), exa AS (
  SELECT doc_id, i - 1 AS pos, uris[i] AS uri, surfs[i] AS surface_form,
         len(segs[i]) AS seg_len, len(surfs[i]) AS surf_len
  FROM parts, LATERAL (SELECT unnest(generate_series(1, len(uris))) AS i) g
), placed AS (
  SELECT doc_id, uri, surface_form,
         (sum(seg_len + surf_len)
            OVER (PARTITION BY doc_id ORDER BY pos) - surf_len)::BIGINT AS start,
         surf_len
  FROM exa
), titled AS (
  -- fixture URIs use only %20 escapes; the engine's url_decode handles
  -- the general case and agrees on this domain
  SELECT doc_id, surface_form, start, (start + surf_len)::BIGINT AS "end",
         upper(substring(t, 1, 1)) || substring(t, 2) AS title
  FROM (SELECT *, replace(replace(uri, '%20', ' '), ' ', '_') AS t FROM placed)
), anchors AS (
  SELECT ti.doc_id, ti.title, ti.surface_form, ti.start, ti."end", w.qcode
  FROM titled ti
  LEFT JOIN red r ON ti.title = r.src_title
  LEFT JOIN wq w ON coalesce(r.dest_title, ti.title) = w.wiki_title
  WHERE w.qcode IS NOT NULL AND w.qcode NOT IN (SELECT qcode FROM dis)
)"""

SQL_ANCHOR_EXTRACT = f"""
WITH {_SQL_MAPS}, {_SQL_ANCHORS_CTE}
SELECT doc_id, title, surface_form, start, "end", qcode FROM anchors
"""


def q_weak_label(spark, sf_dir):
    """J5: main-entity weak-label join (wikipedia_dataset.py:226-274) —
    md spans matching the page entity's label(s) inherit its qcode;
    hyperlink spans (F4 output) win on overlap (J6)."""
    from refined_spark.sources.anchors import (
        clean_anchor_links,
        extract_anchors,
        weak_label_main_entity,
    )

    d, red, wq, dis = _eval_maps(spark)
    pages = spark.read.json(
        f"{d}/wikipages.jsonl",
        schema="title string, text string, "
               "md_spans array<struct<start:long,ln:long,text:string>>",
    )
    docs = pages.select(F.col("title").alias("doc_id"), "title", "text")
    md = pages.select(
        F.col("title").alias("doc_id"), F.explode("md_spans").alias("sp")
    ).select(
        "doc_id", F.col("sp.start").alias("start"), F.col("sp.ln").alias("ln"),
        F.col("sp.text").alias("text"),
    )
    hyper = clean_anchor_links(
        extract_anchors(docs.select("doc_id", "text")), red, wq, dis
    ).select(
        "doc_id", "start", (F.col("end") - F.col("start")).alias("ln"),
        F.col("surface_form").alias("text"), "qcode",
    )
    meta = spark.read.json(f"{d}/entity_meta.jsonl",
                           schema="qcode string, label string")
    humans = spark.read.json(f"{d}/humans.jsonl", schema="qcode string")
    return weak_label_main_entity(
        docs.select("doc_id", "title"), md, hyper, red, wq, meta, humans
    )


SQL_WEAK_LABEL = f"""
WITH {_SQL_MAPS}, {_SQL_ANCHORS_CTE}, hyper AS (
  SELECT doc_id, start, ("end" - start)::BIGINT AS ln, surface_form AS text, qcode
  FROM anchors
), md AS (
  SELECT title AS doc_id, unnest(md_spans) AS sp
  FROM read_json('{EVAL_FIX_DIR}/wikipages.jsonl', {_RJ},
    columns={{'title':'VARCHAR','text':'VARCHAR',
              'md_spans':'STRUCT("start" BIGINT, ln BIGINT, text VARCHAR)[]'}})
), mdf AS (
  SELECT doc_id, sp."start" AS start, sp.ln AS ln, sp.text AS text FROM md
), meta AS (
  SELECT * FROM read_json('{EVAL_FIX_DIR}/entity_meta.jsonl', {_RJ},
    columns={{'qcode':'VARCHAR','label':'VARCHAR'}})
), humans AS (
  SELECT * FROM read_json('{EVAL_FIX_DIR}/humans.jsonl', {_RJ},
    columns={{'qcode':'VARCHAR'}})
), main AS (
  SELECT p.doc_id, w.qcode AS main_qcode,
         CASE WHEN w.qcode IN (SELECT qcode FROM humans)
              THEN list_distinct(list_append(
                     string_split(replace(m.label, '''s', ''), ' '),
                     replace(m.label, '''s', '')))
              ELSE [replace(m.label, '''s', '')] END AS labels
  FROM (SELECT doc_id, doc_id AS title FROM pages) p
  LEFT JOIN red r ON p.title = r.src_title
  JOIN wq w ON coalesce(r.dest_title, p.title) = w.wiki_title
  JOIN meta m ON m.qcode = w.qcode
  WHERE len(replace(m.label, '''s', '')) > 2
), mdm AS (
  SELECT f.*, m.main_qcode, m.labels,
         row_number() OVER (PARTITION BY f.doc_id ORDER BY f.start, f.ln) AS rn
  FROM mdf f JOIN main m USING (doc_id)
), main_spans AS (
  SELECT doc_id, start, ln, text, main_qcode AS qcode FROM mdm
  WHERE (rn = 1 AND start = 0)
     OR (list_contains(labels, replace(text, '''s', '')) AND start <> 0)
), surv AS (
  SELECT a.* FROM main_spans a WHERE NOT EXISTS (
    SELECT 1 FROM hyper h WHERE h.doc_id = a.doc_id
      AND a.start < h.start + h.ln AND h.start < a.start + a.ln)
)
SELECT doc_id, start, ln, text, qcode FROM hyper
UNION ALL SELECT doc_id, start, ln, text, qcode FROM surv
"""


# ----------------------------------------------- eval bookkeeping (J9 / P8)

def q_gold_recall(spark, sf_dir):
    """J9: gold-in-candidates counter (evaluation.py:40-41) over the
    documents table — each doc is one mention with gold = its source
    entity; candidates come from the token->PEM blocking join."""
    from refined_spark.operators.metrics import gold_recall
    from refined_spark.operators.pem import build_pem, pem_flat

    d = _t(spark, sf_dir, "documents")
    ev = (
        d.select(F.explode(F.split("text", " ")).alias("surface_form"), "source")
        .where(F.col("surface_form") != "")
        .select("surface_form", F.col("source").alias("qcode"),
                F.lit(1.0).alias("cnt"))
    )
    flat = pem_flat(build_pem(ev, max_candidates=30))
    mentions = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
        .distinct()
    )
    gold = d.select(F.col("doc_id").alias("mention_id"),
                    F.col("source").alias("qcode"))
    # gold_recall only consumes candidates through the semi-join against
    # gold, so candidates not equal to their doc's gold entity can never
    # affect the result — constraining the dictionary join to the doc's
    # gold qcode up front skips the ~25x candidate row explosion while
    # producing the identical hit set (and n_gold comes from `gold`).
    gt = d.select("doc_id", F.col("source").alias("gold_qcode"))
    cands = (
        mentions.join(gt, "doc_id")
        .join(
            flat,
            (mentions["token"] == flat["surface_form"])
            & (F.col("gold_qcode") == flat["qcode"]),
        )
        .select(F.col("doc_id").alias("mention_id"), "qcode")
    )
    return gold_recall(gold, cands)


SQL_GOLD_RECALL = """
WITH ev AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS surface_form, source AS qcode
  FROM documents
), counts AS (
  SELECT surface_form, qcode, count(*)::DOUBLE AS cnt
  FROM ev WHERE surface_form <> '' GROUP BY surface_form, qcode
), pem AS (
  SELECT surface_form, qcode,
         cnt / sum(cnt) OVER (PARTITION BY surface_form) AS prior
  FROM counts
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY surface_form
                               ORDER BY prior DESC, qcode) AS rn
  FROM pem
), mentions AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), cand AS (
  SELECT DISTINCT m.doc_id, p.qcode
  FROM (SELECT * FROM mentions WHERE token <> '') m
  JOIN ranked p ON m.token = p.surface_form AND p.rn <= 30
), gold AS (
  SELECT doc_id, source AS qcode FROM documents
), hit AS (
  SELECT DISTINCT g.doc_id FROM gold g
  JOIN cand c ON g.doc_id = c.doc_id AND g.qcode = c.qcode
)
SELECT count(*)::BIGINT AS n_gold,
       (SELECT count(*) FROM hit)::BIGINT AS n_gold_in_candidates,
       round((SELECT count(*) FROM hit)::DOUBLE / count(*), 6) AS gold_recall
FROM gold
"""


def q_nil_span_filter(spark, sf_dir):
    """P8: drop predictions aligning with dataset NIL spans
    (evaluation.py:84-92). Synthetic pred/md sets derived deterministically
    from the documents table (md5-based span texts)."""
    from refined_spark.operators.metrics import filter_nil_spans

    d = _t(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    w1 = F.substring(h, 1, 6)
    w2 = F.substring(h, 7, 6)
    base = d.select("doc_id", w1.alias("w1"), w2.alias("w2"), "source")
    md = base.select(
        "doc_id", F.col("w1").alias("span_text"),
        F.lit(3).cast("long").alias("start"),
        F.lit(None).cast("string").alias("qcode"),
    ).unionByName(
        base.select(
            "doc_id", F.col("w2").alias("span_text"),
            F.lit(9).cast("long").alias("start"),
            F.col("source").alias("qcode"),
        )
    )
    pred = base.select(
        "doc_id", F.col("w1").alias("span_text"),
        F.lit(3).cast("long").alias("start"), F.col("source").alias("pred_qcode"),
    ).unionByName(
        base.select("doc_id", F.col("w2").alias("span_text"),
                    F.lit(9).cast("long").alias("start"),
                    F.col("source").alias("pred_qcode"))
    ).unionByName(
        base.select("doc_id", F.col("w2").alias("span_text"),
                    F.lit(20).cast("long").alias("start"),
                    F.col("source").alias("pred_qcode"))
    )
    return filter_nil_spans(pred, md)


SQL_NIL_SPAN_FILTER = """
WITH base AS (
  SELECT doc_id, substring(md5(doc_id::VARCHAR), 1, 6) AS w1,
         substring(md5(doc_id::VARCHAR), 7, 6) AS w2, source FROM documents
), nil AS (
  SELECT doc_id, w1 AS span_text, 3::BIGINT AS start FROM base
), pred AS (
  SELECT doc_id, w1 AS span_text, 3::BIGINT AS start, source AS pred_qcode FROM base
  UNION ALL
  SELECT doc_id, w2, 9::BIGINT, source FROM base
  UNION ALL
  SELECT doc_id, w2, 20::BIGINT, source FROM base
)
SELECT p.* FROM pred p WHERE NOT EXISTS (
  SELECT 1 FROM nil n WHERE n.doc_id = p.doc_id
    AND n.span_text = p.span_text AND n.start = p.start)
"""


# ------------------------------------------------ span correction (P5)

def q_span_correction(spark, sf_dir):
    """P5: the reference's span-correction rules (general_utils.py:144-209)
    over synthetic spans derived from the documents table; the oracle is
    the hand-derived expected output per constructed case."""
    from refined_spark.operators.spans import correct_spans

    d = spread_scan(_t(spark, sf_dir, "documents"))
    h = F.md5(F.col("doc_id").cast("string"))
    w = [F.substring(h, 1 + 6 * i, 6) for i in range(6)]
    NL, Q = F.lit("\n"), F.lit('"')

    # all six synthetic span families from ONE scan of documents: an array
    # of (start, text) cases exploded per doc (the old plan unioned six
    # copies of the same scan — 6x the IO for fixture construction)
    cases = F.array(
        F.struct(F.lit(10).alias("start"), F.concat(Q, w[0]).alias("text")),          # unbalanced lead quote
        F.struct(F.lit(50).alias("start"), F.concat(NL, w[1], NL).alias("text")),     # strip newlines
        F.struct(F.lit(5).alias("start"), F.lit("the").alias("text")),                # dropped
        F.struct(F.lit(7).alias("start"), F.lit("x").alias("text")),                  # len-1 dropped
        F.struct(F.lit(0).alias("start"), F.concat(w[2], NL, NL, w[3]).alias("text")),  # split in two
        F.struct(F.lit(80).alias("start"), F.concat(w[4], Q).alias("text")),          # unbalanced trail quote
    )
    spans = d.select("doc_id", F.explode(cases).alias("c")).select(
        "doc_id",
        F.col("c.start").cast("long").alias("start"),
        F.length("c.text").cast("long").alias("ln"),
        F.col("c.text").alias("text"),
    )
    return correct_spans(spans)


SQL_SPAN_CORRECTION = """
WITH base AS (
  SELECT doc_id,
         substring(md5(doc_id::VARCHAR), 1, 6) AS w0, substring(md5(doc_id::VARCHAR), 7, 6) AS w1,
         substring(md5(doc_id::VARCHAR), 13, 6) AS w2, substring(md5(doc_id::VARCHAR), 19, 6) AS w3,
         substring(md5(doc_id::VARCHAR), 25, 6) AS w4
  FROM documents
)
SELECT doc_id, 11::BIGINT AS start, 6::BIGINT AS ln, w0 AS text FROM base
UNION ALL SELECT doc_id, 51::BIGINT, 6::BIGINT, w1 FROM base
UNION ALL SELECT doc_id, 0::BIGINT, 6::BIGINT, w2 FROM base
UNION ALL SELECT doc_id, 8::BIGINT, 6::BIGINT, w3 FROM base
UNION ALL SELECT doc_id, 80::BIGINT, 6::BIGINT, w4 FROM base
"""


# ------------------------------------------------ date range split (F6)

def q_date_range_split(spark, sf_dir):
    """F6: '1988 to 1999' is two dates (date_utils.py:162-181) — split with
    per-part character offsets, over synthetic date strings from orders."""
    from refined_spark.operators.dates import split_date_ranges

    # project the two needed columns, then spread the regex/split work
    o = spread_scan(_t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    ))
    y = F.year("o_orderdate")
    txt = (
        F.when(F.col("o_orderkey") % 3 == 0,
               F.concat(y.cast("string"), F.lit(" to "), (y + 11).cast("string")))
        .when(F.col("o_orderkey") % 3 == 1,
              F.concat(y.cast("string"), F.lit(" - "), (y + 1).cast("string")))
        .otherwise(F.concat(F.lit("March "), y.cast("string")))
    )
    dm = o.select(F.col("o_orderkey").alias("mention_id"), txt.alias("text"))
    return split_date_ranges(dm)


SQL_DATE_RANGE_SPLIT = """
WITH o AS (
  SELECT o_orderkey AS mention_id, o_orderkey % 3 AS m,
         year(o_orderdate) AS y FROM orders
)
SELECT mention_id, 0 AS part_idx, y::VARCHAR AS part_text, 0::BIGINT AS part_offset
FROM o WHERE m IN (0, 1)
UNION ALL
SELECT mention_id, 1, (y + 11)::VARCHAR, 8::BIGINT FROM o WHERE m = 0
UNION ALL
SELECT mention_id, 1, (y + 1)::VARCHAR, 7::BIGINT FROM o WHERE m = 1
UNION ALL
SELECT mention_id, 0, 'March ' || y::VARCHAR, 0::BIGINT FROM o WHERE m = 2
"""


# ------------------------------------------------ levenshtein kernel (F11)

def q_levenshtein_sim(spark, sf_dir):
    """F11's second string kernel (north rule 'Jaro-Winkler/Levenshtein'):
    Spark's builtin levenshtein + the normalized similarity the scorer
    uses (functions/similarity.lev_sim_col), vs DuckDB's levenshtein."""
    from refined_spark.functions.similarity import lev_sim_col

    d = _t(spark, sf_dir, "documents")
    a = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    b = F.substring(F.md5(F.col("doc_id").cast("string")), 9, 8)
    return d.select(
        "doc_id",
        F.levenshtein(a, b).cast("long").alias("lev_dist"),
        F.round(lev_sim_col(a, b), 6).alias("lev_sim"),
    )


SQL_LEVENSHTEIN_SIM = """
SELECT doc_id,
       levenshtein(substring(md5(doc_id::VARCHAR), 1, 8),
                   substring(md5(doc_id::VARCHAR), 9, 8)) AS lev_dist,
       round(1.0 - levenshtein(substring(md5(doc_id::VARCHAR), 1, 8),
                               substring(md5(doc_id::VARCHAR), 9, 8))
                   / greatest(len(substring(md5(doc_id::VARCHAR), 1, 8)),
                              len(substring(md5(doc_id::VARCHAR), 9, 8)), 1), 6) AS lev_sim
FROM documents
"""


# --------------------------------------- incremental resolve (streaming)

def q_incremental_resolve(spark, sf_dir):
    """Incremental ER via Structured Streaming (streaming/incremental.py):
    resolve a base corpus, append a delta batch, and assert the
    incrementally-built resolved table EQUALS a full batch recompute over
    base+delta on (mention_id, doc_id, qcode, score) — per-doc resolution
    is batch-independent (coref propagates within a document), so the two
    must match row-for-row; this query RAISES on any mismatch, making the
    driver row a real invariant check, not a smoke test. cluster_id is
    excluded by design: clusters are batch-refreshed (module docstring).

    No oracle_sql: foreachBatch streaming over the fused scoring kernel is
    not ANSI-SQL-expressible — the driver records the weaker rows-only
    check; tests/test_streaming.py + the in-query assertion carry the
    equality evidence.

    Inputs are a deterministic fixture corpus (fixtures.generate, seed 11;
    sf_dir is unused — same precedent as the eval-set reader queries)."""
    import shutil
    import tempfile

    import pyarrow.parquet as pq_mod

    from refined_spark import fixtures
    from refined_spark.plans import pipeline
    from refined_spark.streaming.incremental import incremental_resolve

    tmp = tempfile.mkdtemp(prefix="refined_spark_incr_")
    try:
        paths = fixtures.generate(tmp, n_docs=90, n_entities=30, seed=11)
        load = lambda k: spark.read.parquet(paths[k])
        pem_df, meta = load("pem"), load("entity_meta")
        emb, hq = load("entity_embeddings"), load("human_qcodes")

        # split documents 2:1 into a base file and a later delta file
        t = pq_mod.read_table(paths["documents"])
        cut = (2 * t.num_rows) // 3
        in_dir = f"{tmp}/stream_in"
        out_dir, ckpt = f"{tmp}/stream_out", f"{tmp}/ckpt"
        import os as _os
        _os.makedirs(in_dir)
        pq_mod.write_table(t.slice(0, cut), f"{in_dir}/base.parquet")
        incremental_resolve(spark, in_dir, out_dir, ckpt,
                            pem_df, meta, emb, hq).awaitTermination()
        pq_mod.write_table(t.slice(cut), f"{in_dir}/delta.parquet")
        incremental_resolve(spark, in_dir, out_dir, ckpt,
                            pem_df, meta, emb, hq).awaitTermination()

        proj = lambda df: df.select(
            "mention_id", "doc_id", "qcode", F.round("score", 6).alias("score"))
        incr = sorted(map(tuple, proj(
            spark.read.parquet(out_dir)).collect()))
        full = sorted(map(tuple, proj(pipeline.run(
            spark, load("documents"), pem_df, meta, emb, hq)).collect()))
        pipeline.release_cache()
        if incr != full:
            diff = [(a, b) for a, b in zip(incr, full) if a != b][:5]
            raise AssertionError(
                f"incremental != full recompute: {len(incr)} vs {len(full)} "
                f"rows, first diffs {diff}")
        return spark.createDataFrame(
            incr, "mention_id string, doc_id string, qcode string, score double")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "pricing_summary": q_pricing_summary,
    "revenue_by_nation": q_revenue_by_nation,
    "topk_orders_per_customer": q_topk_orders_per_customer,
    "prediction_metrics": q_prediction_metrics,
    "normalize_surface": q_normalize_surface,
    "pem_build": q_pem_build,
    "candidate_join": q_candidate_join,
    "transitive_closure": q_transitive_closure,
    "dedup_exact": q_dedup_exact,
    "minhash_signatures": q_minhash_signatures,
    "ngram_jaccard": q_ngram_jaccard,
    "ann_bruteforce": q_ann_bruteforce,
    "token_stats": q_token_stats,
    "quality_score": q_quality_score,
    "fingerprint": q_fingerprint,
    "lang_id": q_lang_id,
    "event_sessionize": q_event_sessionize,
    "denylist_filter": q_denylist_filter,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "simhash": q_simhash,
    "simhash_pairs": q_simhash_pairs,
    "embedding_neardup": q_embedding_neardup,
    "embedding_neardup_multirot": q_embedding_neardup_multirot,
    "ann_lsh": q_ann_lsh,
    "ann_multiprobe": q_ann_multiprobe,
    "ann_ivf": q_ann_ivf,
    "bio_decode": q_bio_decode,
    "span_overlap_merge": q_span_overlap_merge,
    "date_resolution": q_date_resolution,
    "aida_reader": q_aida_reader,
    "standard_reader": q_standard_reader,
    "webqsp_reader": q_webqsp_reader,
    "anchor_extract": q_anchor_extract,
    "weak_label_join": q_weak_label,
    "gold_recall": q_gold_recall,
    "nil_span_filter": q_nil_span_filter,
    "span_correction": q_span_correction,
    "date_range_split": q_date_range_split,
    "levenshtein_sim": q_levenshtein_sim,
    "incremental_resolve": q_incremental_resolve,
}

ORACLES: dict[str, str] = {
    "pricing_summary": SQL_PRICING,
    "revenue_by_nation": SQL_REVENUE_BY_NATION,
    "topk_orders_per_customer": SQL_TOPK_ORDERS,
    "prediction_metrics": SQL_PREDICTION_METRICS,
    "normalize_surface": SQL_NORMALIZE,
    "pem_build": SQL_PEM_BUILD,
    "candidate_join": SQL_CANDIDATE_JOIN,
    "transitive_closure": SQL_CLOSURE,
    "dedup_exact": SQL_DEDUP_EXACT,
    "minhash_signatures": SQL_MINHASH,
    "ngram_jaccard": SQL_NGRAM_JACCARD,
    "ann_bruteforce": SQL_ANN_BRUTE,
    "token_stats": SQL_TOKEN_STATS,
    "quality_score": SQL_QUALITY,
    "fingerprint": SQL_FINGERPRINT,
    "lang_id": SQL_LANG_ID,
    "event_sessionize": SQL_SESSIONIZE,
    "denylist_filter": SQL_DENYLIST,
    "minhash_lsh_pairs": SQL_MINHASH_LSH_PAIRS,
    "simhash": SQL_SIMHASH,
    "simhash_pairs": SQL_SIMHASH_PAIRS,
    "embedding_neardup": SQL_EMBEDDING_NEARDUP,
    "embedding_neardup_multirot": SQL_EMBEDDING_NEARDUP_MULTIROT,
    "ann_lsh": SQL_ANN_LSH,
    "ann_multiprobe": SQL_ANN_MULTIPROBE,
    "ann_ivf": SQL_ANN_IVF,
    "bio_decode": SQL_BIO_DECODE,
    "span_overlap_merge": SQL_SPAN_OVERLAP,
    "date_resolution": SQL_DATE_RESOLUTION,
    "aida_reader": SQL_AIDA_READER,
    "standard_reader": SQL_STANDARD_READER,
    "webqsp_reader": SQL_WEBQSP_READER,
    "anchor_extract": SQL_ANCHOR_EXTRACT,
    "weak_label_join": SQL_WEAK_LABEL,
    "gold_recall": SQL_GOLD_RECALL,
    "nil_span_filter": SQL_NIL_SPAN_FILTER,
    "span_correction": SQL_SPAN_CORRECTION,
    "date_range_split": SQL_DATE_RANGE_SPLIT,
    "levenshtein_sim": SQL_LEVENSHTEIN_SIM,
}
