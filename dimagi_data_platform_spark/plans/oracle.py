"""DuckDB oracle SQL — the ANSI twin of every SQL-expressible query in
plans.queries. The driver runs these side-by-side with the Spark plans
at sf0.01 and hash-compares values, so:

- every computed column is aliased to the exact Spark-side name;
- float aggregates use the same decimal-accumulate-then-double shape
  as functions.num (bitwise-identical results);
- every LIMIT has a total deterministic ORDER BY.
"""

from __future__ import annotations

from dimagi_data_platform_spark.functions.num import sql_davg, sql_dsum, sql_qsum

_REV = "l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)"

ORACLE: dict[str, str] = {}

ORACLE["q1_pricing_summary"] = f"""
SELECT l_returnflag, l_linestatus,
  {sql_dsum("l_quantity")} AS sum_qty,
  {sql_dsum("l_extendedprice")} AS sum_base_price,
  {sql_dsum(_REV)} AS sum_disc_price,
  {sql_dsum(f"({_REV}) * (CAST(1 AS DOUBLE) + l_tax)")} AS sum_charge,
  {sql_davg("l_quantity")} AS avg_qty,
  {sql_davg("l_extendedprice")} AS avg_price,
  {sql_davg("l_discount")} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

ORACLE["q3_shipping_priority"] = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority, {sql_dsum(_REV)} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""

ORACLE["q4_order_priority"] = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

ORACLE["q5_local_supplier"] = f"""
SELECT n_name, {sql_dsum(_REV)} AS revenue
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""

ORACLE["q6_revenue_delta"] = f"""
SELECT {sql_dsum("l_extendedprice * l_discount")} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""

ORACLE["q10_returned_items"] = f"""
SELECT c_custkey, c_name, c_acctbal, n_name, {sql_dsum(_REV)} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON n_nationkey = c_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""

ORACLE["customers_without_orders"] = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""

ORACLE["repeat_buyers_intersect"] = """
SELECT o_custkey AS custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997
"""

ORACLE["lapsed_buyers_except"] = """
SELECT o_custkey AS custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
EXCEPT
SELECT o_custkey AS custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997
"""

ORACLE["top_customers_per_nation"] = """
SELECT n_name, c_name, c_acctbal, rk FROM (
  SELECT n_name, c_name, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) AS rk
  FROM customer JOIN nation ON n_nationkey = c_nationkey) t
WHERE rk <= 3
"""

ORACLE["running_revenue"] = f"""
WITH m AS (
  SELECT date_trunc('month', o_orderdate) AS month, {sql_dsum("o_totalprice")} AS revenue
  FROM orders GROUP BY 1)
SELECT month, revenue,
  CAST(ROUND(SUM(CAST(revenue AS DECIMAL(38,10)))
       OVER (ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
    AS cum_revenue,
  revenue - LAG(revenue) OVER (ORDER BY month) AS mom_delta
FROM m
"""

ORACLE["acctbal_deciles"] = f"""
SELECT decile, COUNT(*) AS n, {sql_dsum("c_acctbal")} AS total_bal,
       MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal
FROM (
  SELECT c_acctbal, c_custkey,
         NTILE(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
  FROM customer) t
GROUP BY decile
ORDER BY decile
"""

ORACLE["rollup_sales"] = f"""
SELECT r_name, n_name, {sql_dsum("o_totalprice")} AS revenue, COUNT(*) AS n_orders
FROM orders
JOIN customer ON c_custkey = o_custkey
JOIN nation ON n_nationkey = c_nationkey
JOIN region ON r_regionkey = n_regionkey
GROUP BY ROLLUP(r_name, n_name)
"""

_PIV = {
    "urgent": "1-URGENT",
    "high": "2-HIGH",
    "medium": "3-MEDIUM",
    "not_specified": "4-NOT SPECIFIED",
    "low": "5-LOW",
}
_piv_cols = ",\n  ".join(
    f"CAST(ROUND(SUM(CASE WHEN o_orderpriority = '{raw}' THEN CAST(o_totalprice AS DECIMAL(38,10)) END), 2) AS DOUBLE) AS {clean}"
    for clean, raw in _PIV.items()
)
ORACLE["segment_priority_pivot"] = f"""
SELECT c_mktsegment,
  {_piv_cols}
FROM orders JOIN customer ON c_custkey = o_custkey
GROUP BY c_mktsegment
"""

ORACLE["order_value_percentiles"] = """
WITH ranked AS (
  SELECT o_orderpriority, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders)
SELECT o_orderpriority,
  MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT) THEN o_totalprice END) AS p50,
  MAX(CASE WHEN rn = CAST(CEIL(0.9 * n) AS BIGINT) THEN o_totalprice END) AS p90,
  MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT) THEN o_totalprice END) AS p99,
  MAX(n) AS n_orders
FROM ranked
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

ORACLE["above_avg_orders"] = f"""
WITH ca AS (
  SELECT o_custkey AS ck, {sql_davg("o_totalprice")} AS cust_avg
  FROM orders GROUP BY o_custkey)
SELECT o_orderkey, o_custkey, o_totalprice, cust_avg
FROM orders JOIN ca ON o_custkey = ck
WHERE o_totalprice > CAST(1.5 AS DOUBLE) * cust_avg
"""

# --------------------------------------------------------------------------
# Platform / ETL surface (P1-P12)
# --------------------------------------------------------------------------

ORACLE["latest_event_per_user"] = """
SELECT user_id, event_id, ts, event_type, value FROM (
  SELECT user_id, event_id, ts, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) t
WHERE rn = 1
"""

ORACLE["visits_sessionize"] = f"""
WITH x AS (
  SELECT user_id, ts, event_id, value,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR date_diff('microsecond', LAG(ts) OVER w, ts) > 1800000000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM x)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(date_diff('microsecond', MIN(ts), MAX(ts)) AS DOUBLE) / 1000000.0 AS duration_s,
       {sql_dsum("value")} AS total_value
FROM s
GROUP BY user_id, session_id
"""

ORACLE["monthly_usage"] = f"""
SELECT user_id, date_trunc('month', ts) AS month,
       COUNT(*) AS n_events,
       COUNT(DISTINCT CAST(ts AS DATE)) AS active_days,
       COUNT(DISTINCT event_type) AS n_event_types,
       {sql_dsum("value")} AS total_value,
       date_trunc('day', MIN(ts)) AS first_day,
       date_trunc('day', MAX(ts)) AS last_day
FROM events
GROUP BY user_id, date_trunc('month', ts)
"""

ORACLE["active_users_daily"] = f"""
WITH d AS (
  SELECT date_trunc('day', ts) AS day,
         COUNT(DISTINCT user_id) AS dau,
         {sql_dsum("value")} AS total_value
  FROM events GROUP BY 1)
SELECT day, dau, total_value, dau - LAG(dau) OVER (ORDER BY day) AS dau_delta
FROM d
"""

ORACLE["retention_cohorts"] = """
WITH f AS (
  SELECT user_id, date_trunc('day', MIN(ts)) AS cohort_day FROM events GROUP BY 1),
a AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events)
SELECT cohort_day,
       CAST(date_diff('day', cohort_day, day) AS BIGINT) AS day_offset,
       COUNT(*) AS n_users
FROM f JOIN a USING (user_id)
GROUP BY 1, 2
"""

ORACLE["signup_to_purchase_funnel"] = f"""
WITH s AS (
  SELECT user_id, MIN(ts) AS first_signup FROM events
  WHERE event_type = 'signup' GROUP BY 1),
p AS (
  SELECT user_id AS p_user, ts AS purchase_ts, value FROM events
  WHERE event_type = 'purchase')
SELECT user_id, first_signup,
       COUNT(purchase_ts) AS n_purchases_after,
       {sql_dsum("value")} AS purchase_value
FROM s LEFT JOIN p ON user_id = p_user AND purchase_ts > first_signup
GROUP BY user_id, first_signup
"""

ORACLE["props_extract"] = f"""
WITH e AS (
  SELECT CAST(FLOOR(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INTEGER) / 10) * 10 AS INTEGER) AS k_bucket,
         user_id, value
  FROM events)
SELECT k_bucket, COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       {sql_dsum("value")} AS total_value
FROM e
GROUP BY k_bucket
ORDER BY k_bucket
"""

ORACLE["events_asof_join"] = """
SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
  (SELECT MAX(c.ts) FROM events c
    WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts)
  AS last_click_ts
FROM events p
WHERE p.event_type = 'purchase'
"""

# --------------------------------------------------------------------------
# LLM-data-pipeline operators (L1-L12). minhash_lsh_dedup / simhash_dedup /
# knn_lsh are intentionally absent (not SQL-expressible; rows-only gate).
# --------------------------------------------------------------------------

_BPE_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"
_PUNCT_RE = r"[^\w\s]"
_NWORDS = r"len(regexp_split_to_array(trim(lower(text)), '\s+'))"

ORACLE["token_counts"] = f"""
SELECT doc_id,
  CAST({_NWORDS} AS BIGINT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT) AS n_bpe_tokens,
  CAST(length(text) AS DOUBLE) / {_NWORDS} AS chars_per_token
FROM documents
"""

_STOP = r"\b(the|a|of|and|to|in|is)\b"
ORACLE["doc_quality"] = f"""
WITH x AS (
  SELECT doc_id,
    CAST({_NWORDS} AS BIGINT) AS n_words,
    CAST(len(regexp_extract_all(text, '{_PUNCT_RE}')) AS DOUBLE) / length(text) AS punct_ratio,
    CAST(len(regexp_extract_all(lower(text), '{_STOP}')) AS DOUBLE) / {_NWORDS} AS stopword_ratio
  FROM documents)
SELECT doc_id, n_words, punct_ratio, stopword_ratio,
  0.4 * stopword_ratio + 0.3 * (1.0 - punct_ratio)
    + 0.3 * LEAST(1.0, n_words / 100.0) AS quality_score
FROM x
"""

_MARKERS = {
    "en": "(the|of|and|to|is)",
    "es": "(el|la|de|los|y)",
    "de": "(der|die|das|und|ein)",
    "fr": "(le|les|et|un|une)",
}
_score_cols = ",\n    ".join(
    f"CAST(len(regexp_extract_all(lower(text), '\\b{pat}\\b')) AS BIGINT) AS c_{lg}"
    for lg, pat in _MARKERS.items()
)
ORACLE["lang_id"] = f"""
WITH s AS (
  SELECT doc_id, lang,
    {_score_cols}
  FROM documents)
SELECT doc_id, lang,
  CASE
    WHEN c_en > 0 AND c_en >= GREATEST(c_es, c_de, c_fr) THEN 'en'
    WHEN c_es > 0 AND c_es >= GREATEST(c_en, c_de, c_fr) THEN 'es'
    WHEN c_de > 0 AND c_de >= GREATEST(c_en, c_es, c_fr) THEN 'de'
    WHEN c_fr > 0 AND c_fr >= GREATEST(c_en, c_es, c_de) THEN 'fr'
    ELSE 'und'
  END AS lang_pred,
  c_en, c_es, c_de, c_fr
FROM s
"""

_NORM_TEXT = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"

ORACLE["doc_fingerprint"] = f"""
SELECT doc_id, md5({_NORM_TEXT}) AS fingerprint,
       COUNT(*) OVER (PARTITION BY md5({_NORM_TEXT})) AS n_same
FROM documents
"""

ORACLE["exact_dedup"] = f"""
SELECT doc_id, content_hash FROM (
  SELECT doc_id, md5({_NORM_TEXT}) AS content_hash,
         ROW_NUMBER() OVER (PARTITION BY md5({_NORM_TEXT}) ORDER BY doc_id) AS rn
  FROM documents) t
WHERE rn = 1
"""

# shared CTE block: word-3-gram Jaccard pairs ≥ 0.1 (also the edge set
# of the near_dup_components transitive closure)
_NGRAM_PAIR_CTES = r"""
toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
sh_all AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3),
-- stopword-shingle skew cap: mirror of MAX_SHINGLE_DF on the Spark side
sh AS (
  SELECT doc_id, shingle FROM sh_all
  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 50),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT doc_a, doc_b, n_common,
         CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
  FROM inter
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.1)
"""

ORACLE["ngram_jaccard_pairs"] = f"""
WITH {_NGRAM_PAIR_CTES}
SELECT doc_a, doc_b, n_common, jaccard FROM pairs
"""

# Containment twin: same shingle representation + df cap as the Jaccard
# CTEs, but DIRECTED pairs normalized by the source doc's set size.
ORACLE["ngram_containment_pairs"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
sh_all AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3),
sh AS (
  SELECT doc_id, shingle FROM sh_all
  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 50),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id <> b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, n_common,
       CAST(n_common AS DOUBLE) / CAST(sa.n AS DOUBLE) AS containment
FROM inter JOIN sz sa ON sa.doc_id = doc_a
WHERE CAST(n_common AS DOUBLE) / CAST(sa.n AS DOUBLE) >= 0.25
"""

ORACLE["phrase_search"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
tok AS (
  SELECT doc_id, t[gs.i] AS term, CAST(gs.i - 1 AS BIGINT) AS pos
  FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(t))) AS i) gs),
t0 AS (SELECT doc_id, pos AS p0 FROM tok WHERE term = 'table'),
t1 AS (SELECT doc_id, pos - 1 AS p0 FROM tok WHERE term = 'hash')
SELECT doc_id, COUNT(*) AS n_matches, MIN(p0) AS first_pos
FROM t0 JOIN t1 USING (doc_id, p0)
GROUP BY doc_id
"""


def _vdot(a: str, b: str, dim: int = 64) -> str:
    terms = " + ".join(
        f"CAST({a}[{i}] AS DOUBLE)*CAST({b}[{i}] AS DOUBLE)" for i in range(1, dim + 1)
    )
    return f"(0.0 + {terms})"


_COS_QC = f"{_vdot('q_vec', 'c_vec')} / (sqrt({_vdot('q_vec', 'q_vec')}) * sqrt({_vdot('c_vec', 'c_vec')}))"

ORACLE["knn_bruteforce"] = f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec FROM embeddings),
s AS (
  SELECT q_id, neighbor_id, {_COS_QC} AS cos_sim
  FROM q, c WHERE q_id <> neighbor_id),
r AS (
  SELECT q_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
  FROM s)
SELECT q_id, neighbor_id, cos_sim, "rank" FROM r WHERE "rank" <= 5
"""

_COS_AB = f"{_vdot('vec_a', 'vec_b')} / (sqrt({_vdot('vec_a', 'vec_a')}) * sqrt({_vdot('vec_b', 'vec_b')}))"

ORACLE["embedding_near_dup"] = f"""
WITH p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         a.embedding AS vec_a, b.embedding AS vec_b
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, {_COS_AB} AS cos_sim
FROM p
WHERE {_COS_AB} >= 0.35
"""

def _minhash_oracle() -> str:
    """MinHash+LSH twin: the base hash is md5 (identical in DuckDB and
    Spark), the universal-hash (a,b) literals come from the same seeded
    generator, and band membership is expressed as per-band AND-equality
    (the Spark side's xxhash64 band-bucket id is an internal grouping
    key that never surfaces, so only the grouping must agree)."""
    from dimagi_data_platform_spark.operators.minhash import MINHASH_P, _hash_params

    params = _hash_params(64, 42)
    sig_cols = ",\n  ".join(
        f"MIN(({a}*h + {b}) % {MINHASH_P}) AS s{i}"
        for i, (a, b) in enumerate(params)
    )
    band_or = "\n    OR ".join(
        "(" + " AND ".join(f"a.s{b * 4 + j} = b.s{b * 4 + j}" for j in range(4)) + ")"
        for b in range(16)
    )
    eq_sum = " + ".join(
        f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)" for i in range(64)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3),
hs AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % {MINHASH_P} AS h
  FROM sh),
sig AS (SELECT doc_id,
  {sig_cols}
  FROM hs GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST({eq_sum} AS DOUBLE) / 64 AS est_jaccard
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({band_or}))
SELECT id_a, id_b, est_jaccard FROM cand WHERE est_jaccard >= 0.2
"""


ORACLE["minhash_lsh_dedup"] = _minhash_oracle()


def _simhash_oracle() -> str:
    """SimHash twin: 128 token bits from the same md5 slices as the
    Spark side (h1 = digest chars 1-15 → global bits 0-59, h2 = chars
    16-30 → bits 60-119, h3 = chars 31-32 → bits 120-127 — the layout
    operators/simhash.py assembles into hA/hB). The pigeonhole
    chunk-blocking needs NO mirroring — it has exact recall by
    construction, so the oracle is the semantic definition itself:
    every pair with 128-bit hamming <= 6, fingerprints carried as two
    longs exactly like the engine's (fp1 = bits 0-63, fp2 = 64-127)."""

    def _bit(i: int) -> str:
        if i < 60:
            return f"(h1 >> {i}) & 1"
        if i < 120:
            return f"(h2 >> {i - 60}) & 1"
        return f"(h3 >> {i - 120}) & 1"

    bit_aggs = ",\n  ".join(
        f"SUM(CASE WHEN {_bit(i)} = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(128)
    )

    def _fp_terms(lo: int) -> str:
        return " + ".join(
            (
                f"(CASE WHEN b{lo + j} > 0 THEN {1 << j} ELSE 0 END)"
                if j < 63
                else f"(CASE WHEN b{lo + j} > 0 THEN -9223372036854775808 ELSE 0 END)"
            )
            for j in range(64)
        )

    return rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
tok AS (SELECT DISTINCT doc_id, u.term FROM toks, UNNEST(t) AS u(term)),
h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) AS h1,
         CAST(('0x' || substr(md5(term), 16, 15)) AS BIGINT) AS h2,
         CAST(('0x' || substr(md5(term), 31, 2)) AS BIGINT) AS h3
  FROM tok),
bits AS (SELECT doc_id,
  {bit_aggs}
  FROM h GROUP BY doc_id),
fp AS (SELECT doc_id, {_fp_terms(0)} AS fp1, {_fp_terms(64)} AS fp2 FROM bits)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.fp1, b.fp1)) + bit_count(xor(a.fp2, b.fp2)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp1, b.fp1)) + bit_count(xor(a.fp2, b.fp2)) <= 6
"""


ORACLE["simhash_dedup"] = _simhash_oracle()


# -- LSH oracles: the hyperplanes are deterministic (seeded), so their
# -- literals interpolate straight into SQL and the bucket assignment +
# -- exact cosine re-rank reproduce bitwise (the plane dot product and
# -- the cosine use the same left-folded term chains as the Spark side).


def _sql_bucket(col: str, n_planes: int, seed: int, dim: int = 64) -> str:
    from dimagi_data_platform_spark.operators.similarity import _planes

    parts = []
    for i, plane in enumerate(_planes(dim, n_planes, seed)):
        dot = "0.0 + " + " + ".join(
            f"CAST({col}[{j + 1}] AS DOUBLE)*({p!r})" for j, p in enumerate(plane)
        )
        parts.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << i} ELSE 0 END)")
    return "(" + " + ".join(parts) + ")"


_B4 = _sql_bucket("embedding", 4, 7)

ORACLE["knn_lsh"] = f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_vec, {_B4} AS bucket
  FROM embeddings WHERE vec_id < 10),
c AS (
  SELECT vec_id AS neighbor_id, embedding AS c_vec, {_B4} AS bucket
  FROM embeddings),
s AS (
  SELECT q_id, neighbor_id, {_COS_QC} AS cos_sim
  FROM q JOIN c USING (bucket) WHERE q_id <> neighbor_id),
r AS (
  SELECT q_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id)
         AS BIGINT) AS "rank"
  FROM s)
SELECT q_id, neighbor_id, cos_sim, "rank" FROM r WHERE "rank" <= 5
"""

_TBL = [_sql_bucket("embedding", 6, 7 + 101 * t) for t in range(4)]

# threshold mirrors queries.EMBED_NEAR_DUP_THRESHOLD
ORACLE["embedding_near_dup_lsh"] = f"""
WITH e AS (
  SELECT vec_id AS id, embedding AS vec,
         {_TBL[0]} AS b0, {_TBL[1]} AS b1, {_TBL[2]} AS b2, {_TBL[3]} AS b3
  FROM embeddings),
cand AS (
  SELECT a.id AS id_a, b.id AS id_b, a.vec AS vec_a, b.vec AS vec_b
  FROM e a JOIN e b
    ON a.id < b.id
   AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)),
s AS (SELECT id_a, id_b, {_COS_AB} AS cos_sim FROM cand)
SELECT id_a, id_b, cos_sim FROM s WHERE cos_sim >= 0.35
"""

# L5c: the bounded default — eight sorted-neighborhood passes over
# (2-plane sign bucket, norm-scaled 1-D projection, id) orders, W=16
# neighbors per pass, exact cosine verify, honest-cap mass columns
# (compared = distinct candidates, dropped = choose(n,2) − compared)
# on every row. Bucket planes use the engine's seed + 101*t space,
# projection planes seed + 101*t + 5000; the projection divides by
# the vector norm so the order tracks ANGULAR closeness.


def _sql_projection(col: str, seed: int, dim: int = 64) -> str:
    from dimagi_data_platform_spark.operators.similarity import _planes

    (plane,) = _planes(dim, 1, seed)
    dot = " + ".join(
        f"CAST({col}[{j + 1}] AS DOUBLE)*({p!r})" for j, p in enumerate(plane)
    )
    return f"(0.0 + {dot})"


_CAPPED_T = 8  # mirrors embedding_near_dup_capped's n_tables
_CAPPED_B = [_sql_bucket("embedding", 2, 7 + 101 * t) for t in range(_CAPPED_T)]
_PRJ = [
    f"({_sql_projection('embedding', 7 + 101 * t + 5000)}"
    f" / sqrt({_vdot('embedding', 'embedding')}))"
    for t in range(_CAPPED_T)
]

# r13 PROBE passes — the corpus-adaptive fine-bucket orders
# (operators/similarity.py adaptive_bucket_bits): bits(n) =
# clamp(2, 12, floor(log2 n) - 6), computed once in the `fb` CTE.
# The engine truncates its plane list to `bits`; here all 12 plane
# sign terms are expanded statically and term j is gated by
# `j < bits` — identical bucket values because _planes is
# prefix-stable (random.Random(seed) draws planes sequentially).
_PROBE_T = 8
_MAX_PROBE_BITS = 12
_FB = "(SELECT bits FROM fb)"


def _sql_bucket_gated(col: str, seed: int, dim: int = 64) -> str:
    from dimagi_data_platform_spark.operators.similarity import _planes

    parts = []
    for i, plane in enumerate(_planes(dim, _MAX_PROBE_BITS, seed)):
        dot = "0.0 + " + " + ".join(
            f"CAST({col}[{j + 1}] AS DOUBLE)*({p!r})" for j, p in enumerate(plane)
        )
        parts.append(
            f"(CASE WHEN {i} < {_FB} AND ({dot}) > 0"
            f" THEN {1 << i} ELSE 0 END)"
        )
    return "(" + " + ".join(parts) + ")"


_FB_CTE = (
    "fb AS (SELECT LEAST(12, GREATEST(2, CAST(FLOOR(LOG2(CAST("
    "GREATEST(COUNT(*), 2) AS DOUBLE))) AS INTEGER) - 6)) AS bits "
    "FROM embeddings)"
)
# probe table t continues the coarse seed schedule at index 8 + t
_PROBE_B = [
    _sql_bucket_gated("embedding", 7 + 101 * (_CAPPED_T + t))
    for t in range(_PROBE_T)
]
_PROBE_PRJ = [
    f"({_sql_projection('embedding', 7 + 101 * (_CAPPED_T + t) + 5000)}"
    f" / sqrt({_vdot('embedding', 'embedding')}))"
    for t in range(_PROBE_T)
]

# corpus-adaptive sorted-neighborhood window — the SQL twin of
# operators.similarity.adaptive_snm_window: clamp(16, 64,
# 16*(floor(log2 n) - 7)). FLOOR(LOG2(n)) is cross-engine robust
# (exact at powers of two, >= 2^-40 from an integer elsewhere).
_SNM_W = (
    "LEAST(64, GREATEST(16, 16 * ("
    "CAST(FLOOR(LOG2(CAST((SELECT COUNT(*) FROM e) AS DOUBLE))) AS INTEGER)"
    " - 7)))"
)

_SNM_PASSES = "\nUNION\n".join(
    [
        f"""SELECT LEAST(a.id, b.id) AS id_a, GREATEST(a.id, b.id) AS id_b
  FROM r{t} a JOIN r{t} b ON b.rn > a.rn AND b.rn <= a.rn + {_SNM_W}"""
        for t in range(_CAPPED_T)
    ]
    + [
        f"""SELECT LEAST(a.id, b.id) AS id_a, GREATEST(a.id, b.id) AS id_b
  FROM pr{t} a JOIN pr{t} b ON b.rn > a.rn AND b.rn <= a.rn + {_SNM_W}"""
        for t in range(_PROBE_T)
    ]
)

_CAPPED_COLS = ",\n         ".join(
    [f"{_CAPPED_B[t]} AS b{t}, {_PRJ[t]} AS p{t}" for t in range(_CAPPED_T)]
    + [
        f"{_PROBE_B[t]} AS pb{t}, {_PROBE_PRJ[t]} AS pp{t}"
        for t in range(_PROBE_T)
    ]
)
_CAPPED_RANKS = ",\n".join(
    [
        f"r{t} AS (SELECT id, ROW_NUMBER() OVER (ORDER BY b{t}, p{t}, id)"
        f" AS rn FROM e)"
        for t in range(_CAPPED_T)
    ]
    + [
        f"pr{t} AS (SELECT id, ROW_NUMBER() OVER (ORDER BY pb{t}, pp{t}, id)"
        f" AS rn FROM e)"
        for t in range(_PROBE_T)
    ]
)

ORACLE["embedding_near_dup_capped"] = f"""
WITH {_FB_CTE},
e AS MATERIALIZED (
  SELECT vec_id AS id, embedding AS vec,
         {_CAPPED_COLS}
  FROM embeddings),
{_CAPPED_RANKS},
cand AS MATERIALIZED (
  {_SNM_PASSES}),
mass AS (
  SELECT CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS compared_pairs,
         CAST((SELECT COUNT(*) * (COUNT(*) - 1) // 2 FROM e) AS BIGINT)
           - CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS dropped_pairs),
p AS (
  SELECT cand.id_a, cand.id_b, a.vec AS vec_a, b.vec AS vec_b
  FROM cand JOIN e a ON a.id = cand.id_a JOIN e b ON b.id = cand.id_b),
s AS (SELECT id_a, id_b, {_COS_AB} AS cos_sim FROM p)
SELECT id_a, id_b, cos_sim, compared_pairs, dropped_pairs
FROM s CROSS JOIN mass WHERE cos_sim >= 0.35
"""

ORACLE["multimodal_features"] = """
WITH x AS (
  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         CASE WHEN length(text) = 0 THEN -1 ELSE CAST(ascii(text) AS BIGINT) END AS first_byte
  FROM documents)
SELECT doc_id, n_bytes, n_bytes % 640 AS width, n_bytes % 480 AS height,
       n_bytes % 30 + 1 AS n_frames, first_byte
FROM x
"""

ORACLE["session_windows"] = f"""
WITH x AS (
  SELECT user_id, ts, event_id, value,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR date_diff('microsecond', LAG(ts) OVER w, ts) > 1800000000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM x)
SELECT user_id, MIN(ts) AS window_start,
       MAX(ts) + INTERVAL 30 MINUTE AS window_end,
       COUNT(*) AS n_events,
       {sql_dsum("value")} AS total_value
FROM s
GROUP BY user_id, session_id
"""

# --------------------------------------------------------------------------
# Extended relational coverage
# --------------------------------------------------------------------------

ORACLE["min_price_supplier_per_part"] = """
WITH priced AS (
  SELECT l_partkey, l_suppkey, l_extendedprice / l_quantity AS unit_price,
         ROW_NUMBER() OVER (PARTITION BY l_partkey
                            ORDER BY l_extendedprice / l_quantity, l_suppkey) AS rn
  FROM lineitem)
SELECT p_partkey, p_name, s_name, unit_price
FROM priced
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
WHERE rn = 1 AND p_size <= 10
"""

ORACLE["q7_volume_shipping"] = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       EXTRACT(year FROM l_shipdate) AS l_year, {sql_dsum(_REV)} AS revenue
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE (n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_10')
   OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_9')
GROUP BY 1, 2, 3
"""

_BRAZIL_REV = (
    "CASE WHEN n2.n_name = 'NATION_6' THEN l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) "
    "ELSE CAST(0.0 AS DOUBLE) END"
)
ORACLE["q8_market_share"] = f"""
SELECT EXTRACT(year FROM o_orderdate) AS o_year,
       {sql_dsum(_BRAZIL_REV)} / {sql_dsum(_REV)} AS mkt_share
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = c_nationkey
JOIN region ON r_regionkey = n1.n_regionkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n2 ON n2.n_nationkey = s_nationkey
WHERE r_name = 'AMERICA'
GROUP BY 1
ORDER BY 1
"""

_AMOUNT = (
    "l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) "
    "- (p_retailprice * CAST(0.6 AS DOUBLE)) * l_quantity"
)
ORACLE["q9_product_profit"] = f"""
SELECT n_name AS nation, EXTRACT(year FROM l_shipdate) AS o_year,
       {sql_dsum(_AMOUNT)} AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
"""

ORACLE["priority_line_counts"] = """
SELECT l_linestatus,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
    AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)
    AS low_line_count
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""

_PROMO_REV = (
    "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) "
    "ELSE CAST(0.0 AS DOUBLE) END"
)
ORACLE["q14_promo_share"] = f"""
SELECT (CAST(100.0 AS DOUBLE) * {sql_dsum(_PROMO_REV)}) / {sql_dsum(_REV)}
  AS promo_revenue_pct
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1997-06-01' AND l_shipdate < TIMESTAMP '1997-07-01'
"""

ORACLE["q16_supplier_part_counts"] = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
GROUP BY p_brand, p_type, p_size
"""

ORACLE["q18_large_orders"] = f"""
WITH big AS (
  SELECT l_orderkey, {sql_dsum("l_quantity")} AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING {sql_dsum("l_quantity")} > 250.0)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM big
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
"""

ORACLE["q19_disjunctive_revenue"] = f"""
SELECT {sql_dsum(_REV)} AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30)
"""

ORACLE["sole_supplier_orders"] = """
SELECT s_name, COUNT(DISTINCT l_orderkey) AS numwait
FROM (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM lineitem l1
  WHERE NOT EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)) sole
JOIN supplier ON s_suppkey = l_suppkey
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
"""

ORACLE["wealthy_inactive_customers"] = f"""
WITH ab AS (
  SELECT {sql_davg("c_acctbal")} AS avg_bal FROM customer WHERE c_acctbal > 0.0)
SELECT n_name, COUNT(*) AS numcust, {sql_dsum("c_acctbal")} AS totacctbal
FROM customer, ab
JOIN nation ON n_nationkey = c_nationkey
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY n_name
ORDER BY n_name
"""

_QUALITY = (
    "0.4 * (CAST(len(regexp_extract_all(lower(text), '\\b(the|a|of|and|to|in|is)\\b')) AS DOUBLE)"
    f" / len(regexp_split_to_array(trim(lower(text)), '\\s+')))"
    " + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) / length(text))"
    " + 0.3 * LEAST(1.0, len(regexp_split_to_array(trim(lower(text)), '\\s+')) / 100.0)"
)

ORACLE["corpus_prep"] = f"""
WITH scored AS (
  SELECT doc_id, text, {_QUALITY} AS quality FROM documents),
q AS (SELECT * FROM scored WHERE quality >= 0.5),
dedup AS (
  SELECT doc_id, quality, content_hash FROM (
    SELECT doc_id, quality, md5({_NORM_TEXT}) AS content_hash,
           ROW_NUMBER() OVER (PARTITION BY md5({_NORM_TEXT}) ORDER BY doc_id) AS rn
    FROM q) t
  WHERE rn = 1),
toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t FROM documents),
sh_all AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3),
sh AS (
  SELECT doc_id, shingle FROM sh_all
  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 50),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2),
losers AS (
  SELECT DISTINCT doc_b FROM inter
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5)
SELECT doc_id, quality, content_hash
FROM dedup
WHERE NOT EXISTS (SELECT 1 FROM losers WHERE doc_b = doc_id)
"""

ORACLE["cube_sales"] = f"""
SELECT r_name, o_orderpriority, {sql_dsum("o_totalprice")} AS revenue,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON c_custkey = o_custkey
JOIN nation ON n_nationkey = c_nationkey
JOIN region ON r_regionkey = n_regionkey
GROUP BY CUBE(r_name, o_orderpriority)
"""

# --------------------------------------------------------------------------
# Window-frame / SQL-surface coverage
# --------------------------------------------------------------------------

ORACLE["rolling_7day_revenue"] = f"""
WITH d AS (
  SELECT date_trunc('day', o_orderdate) AS day, {sql_dsum("o_totalprice")} AS revenue
  FROM orders GROUP BY 1),
d2 AS (
  SELECT day, revenue, CAST(epoch_us(day) / 86400000000 AS BIGINT) AS day_num FROM d)
SELECT day, revenue,
  CAST(ROUND(SUM(CAST(revenue AS DECIMAL(38,10)))
       OVER (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
    AS rev_7d
FROM d2
"""

ORACLE["customer_percent_rank"] = """
SELECT n_name, c_custkey, c_acctbal,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume
FROM customer JOIN nation ON n_nationkey = c_nationkey
WINDOW w AS (PARTITION BY n_name ORDER BY c_acctbal, c_custkey)
"""

ORACLE["user_first_last_event"] = """
SELECT DISTINCT user_id,
       FIRST_VALUE(event_type) OVER w AS first_type,
       LAST_VALUE(event_type) OVER w AS last_type,
       FIRST_VALUE(ts) OVER w AS first_ts,
       LAST_VALUE(ts) OVER w AS last_ts
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""

ORACLE["user_event_type_list"] = """
SELECT user_id,
       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
       CAST(len(list(DISTINCT event_type)) AS BIGINT) AS n_types
FROM events
GROUP BY user_id
"""

ORACLE["grouping_sets_activity"] = """
SELECT event_type, user_id % 10 AS user_bucket, COUNT(*) AS n_events
FROM events
GROUP BY GROUPING SETS ((event_type), (user_id % 10), (event_type, user_id % 10))
"""

_HOURLY_TYPES = ("click", "view", "purchase", "signup", "error")
_hour_cols = ",\n  ".join(
    f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT) AS n_{t}"
    for t in _HOURLY_TYPES
)
ORACLE["hourly_event_pivot"] = f"""
SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
  {_hour_cols}
FROM events
GROUP BY 1
ORDER BY 1
"""

# --------------------------------------------------------------------------
# Graph / interval / corpus-prep extensions
# --------------------------------------------------------------------------

ORACLE["near_dup_components"] = f"""
WITH RECURSIVE {_NGRAM_PAIR_CTES},
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs),
reach(id, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, r.label FROM edges e JOIN reach r ON r.id = e.b),
comp AS (SELECT id AS doc_id, MIN(label) AS component FROM reach GROUP BY id)
SELECT doc_id, component,
       COUNT(*) OVER (PARTITION BY component) AS cluster_size
FROM comp
"""

ORACLE["tfidf_top_terms"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
tok AS (SELECT doc_id, u.term FROM toks, UNNEST(t) AS u(term)),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf, df,
         CAST(tf AS DOUBLE) *
           ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
            / (CAST(df AS DOUBLE) + 0.5)) AS tfidf
  FROM tf JOIN dfq USING (term) CROSS JOIN n),
r AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term)
            AS BIGINT) AS rk
  FROM scored)
SELECT doc_id, term, tf, df, tfidf, rk FROM r WHERE rk <= 3
"""

ORACLE["doc_decontaminate"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
sh5 AS (
  SELECT doc_id,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS shingle
  FROM toks, UNNEST(range(1, len(t) - 3)) AS u(i)
  WHERE len(t) >= 5),
bench AS (SELECT DISTINCT shingle FROM sh5 WHERE doc_id % 97 = 0),
contaminated AS (
  SELECT DISTINCT doc_id FROM sh5
  WHERE doc_id % 97 <> 0 AND shingle IN (SELECT shingle FROM bench))
SELECT doc_id FROM documents
WHERE doc_id % 97 <> 0
  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
"""

ORACLE["doc_repetition"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
g AS (SELECT doc_id, CAST(GREATEST(len(t) - 2, 0) AS BIGINT) AS n_grams FROM toks),
d AS (
  SELECT doc_id,
         CAST(COUNT(DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS BIGINT) AS n_distinct
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3
  GROUP BY 1)
SELECT g.doc_id, n_grams, n_distinct,
       1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE) AS rep_ratio
FROM g JOIN d USING (doc_id)
WHERE n_grams > 0
"""

ORACLE["near_dup_train_test_split"] = f"""
WITH RECURSIVE {_NGRAM_PAIR_CTES},
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs),
reach(id, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, r.label FROM edges e JOIN reach r ON r.id = e.b),
comp AS (SELECT id AS doc_id, MIN(label) AS component FROM reach GROUP BY id)
SELECT doc_id, component,
       CASE WHEN component % 10 < 8 THEN 'train' ELSE 'holdout' END AS split
FROM comp
"""

ORACLE["dq_checks"] = """
SELECT check_name, n_violations FROM (
  SELECT 'orders_custkey_fk' AS check_name,
         (SELECT COUNT(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
         AS n_violations
  UNION ALL
  SELECT 'lineitem_quantity_range',
         (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0 OR l_quantity > 100)
  UNION ALL
  SELECT 'customer_custkey_unique',
         (SELECT COUNT(*) FROM
            (SELECT c_custkey FROM customer GROUP BY c_custkey HAVING COUNT(*) > 1) t)
  UNION ALL
  SELECT 'events_ts_not_null',
         (SELECT COUNT(*) FROM events WHERE ts IS NULL)
  UNION ALL
  SELECT 'orders_totalprice_positive',
         (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0)
) ORDER BY check_name
"""

ORACLE["key_skew_profile"] = """
WITH per_key AS (
  SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id),
totals AS (
  SELECT SUM(n_events) AS total, COUNT(*) AS n_keys FROM per_key)
SELECT user_id, n_events,
       CAST(n_events AS DOUBLE) / CAST(total AS DOUBLE) AS share,
       CAST(n_events AS DOUBLE) / (CAST(total AS DOUBLE) / CAST(n_keys AS DOUBLE))
         AS ratio_to_mean
FROM per_key CROSS JOIN totals
ORDER BY n_events DESC, user_id
LIMIT 20
"""

ORACLE["event_session_assign"] = """
WITH x AS (
  SELECT user_id, ts, event_id,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR date_diff('microsecond', LAG(ts) OVER w, ts) > 1800000000
         THEN 1 ELSE 0 END AS is_new
  FROM events WHERE event_type IN ('click', 'view')
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM x),
sess AS (
  SELECT user_id, session_id, MIN(ts) AS session_start, MAX(ts) AS session_end
  FROM s GROUP BY 1, 2)
SELECT e.event_id, e.user_id, e.event_type,
       sess.session_id, sess.session_start, sess.session_end
FROM events e
JOIN sess ON e.user_id = sess.user_id
         AND e.ts >= sess.session_start AND e.ts <= sess.session_end
WHERE e.event_type IN ('purchase', 'error')
"""

ORACLE["purchase_click_attribution"] = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
j AS (
  SELECT p.purchase_id, COUNT(*) AS n_clicks, MAX(c.ts) AS last_click_ts
  FROM p JOIN c ON p.user_id = c.user_id
              AND c.ts >= p.p_ts - INTERVAL 30 MINUTE
              AND c.ts <= p.p_ts
  GROUP BY 1)
SELECT p.purchase_id, p.user_id, p.p_ts,
       COALESCE(j.n_clicks, 0) AS n_clicks, j.last_click_ts
FROM p LEFT JOIN j USING (purchase_id)
"""

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_LONG_NUM_RE = r"[0-9][0-9 ()+.-]{5,}[0-9]"

ORACLE["pii_redaction"] = f"""
WITH r AS (
  SELECT doc_id, text,
    regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                   '{_LONG_NUM_RE}', '[NUM]', 'g') AS redacted,
    trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', ' ', 'g'),
                        '\\s+', ' ', 'g')) AS cleaned
  FROM documents)
SELECT doc_id, redacted, cleaned, redacted <> text AS had_pii FROM r
"""

ORACLE["doc_chunks"] = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
         len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n
  FROM documents),
st AS (
  SELECT doc_id, toks, n, UNNEST(range(0, ((n - 1) // 16) * 16 + 1, 16)) AS s
  FROM t WHERE n >= 1)
SELECT doc_id, CAST(s // 16 AS BIGINT) AS chunk_id,
       array_to_string(list_slice(toks, s + 1, least(s + 32, n)), ' ') AS chunk_text,
       CAST(least(s + 32, n) - s AS BIGINT) AS n_tokens
FROM st
"""

ORACLE["nation_acctbal_stats"] = f"""
WITH spend AS (
  SELECT o_custkey, {sql_dsum("o_totalprice")} AS spend FROM orders GROUP BY 1),
base AS (
  SELECT n_name, c_acctbal AS x, COALESCE(spend, 0.0) AS y
  FROM customer
  LEFT JOIN spend ON c_custkey = o_custkey
  JOIN nation ON c_nationkey = n_nationkey),
agg AS (
  SELECT n_name, COUNT(*) AS n,
         {sql_dsum("x")} AS sx, {sql_dsum("y")} AS sy,
         {sql_qsum("x*x", 0)} AS sxx, {sql_qsum("y*y", 0)} AS syy,
         {sql_qsum("x*y", 0)} AS sxy
  FROM base GROUP BY 1)
SELECT n_name, n,
  sx / CAST(n AS DOUBLE) AS mean_acctbal,
  sqrt((sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)) AS stddev_acctbal,
  ((sxy - sx * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))
    / (sqrt((sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))
       * sqrt((syy - sy * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)))
    AS corr_acctbal_spend
FROM agg
"""

ORACLE["priority_except_all"] = """
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
EXCEPT ALL
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
"""

ORACLE["priority_intersect_all"] = """
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
INTERSECT ALL
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
"""

ORACLE["hourly_event_windows"] = f"""
SELECT date_trunc('hour', ts) AS win_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
       COUNT(*) AS n_events, {sql_dsum("value")} AS total_value
FROM events GROUP BY 1, 2
"""

ORACLE["sliding_event_windows"] = f"""
WITH asn AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS tb, value FROM events),
two AS (
  SELECT tb AS win_start, value FROM asn
  UNION ALL
  SELECT tb - INTERVAL 30 MINUTE, value FROM asn)
SELECT win_start, win_start + INTERVAL 1 HOUR AS win_end,
       COUNT(*) AS n_events, {sql_dsum("value")} AS total_value
FROM two GROUP BY 1, 2
"""

# --------------------------------------------------------------------------
# Remaining TPC-H shapes (q11/q13/q15/q17/q20 analogs)
# --------------------------------------------------------------------------

ORACLE["q13_customer_distribution"] = """
SELECT c_count, COUNT(*) AS custdist FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey) t
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

ORACLE["q15_top_supplier"] = f"""
WITH rev AS (
  SELECT l_suppkey, {sql_dsum("l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)")}
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY s_suppkey
"""

ORACLE["q17_small_quantity_revenue"] = f"""
WITH per_part AS (
  SELECT l_partkey AS ap_partkey, {sql_davg("l_quantity")} AS avg_qty
  FROM lineitem GROUP BY l_partkey)
SELECT {sql_dsum("l_extendedprice")} / CAST(7.0 AS DOUBLE) AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#1'
JOIN per_part ON l_partkey = ap_partkey
WHERE l_quantity < CAST(0.2 AS DOUBLE) * avg_qty
"""

ORACLE["q20_excess_suppliers"] = f"""
WITH heavy AS (
  SELECT DISTINCT l_suppkey
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_name LIKE 'red%'
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey, l_partkey
  HAVING {sql_dsum("l_quantity")} > 45.0)
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (SELECT l_suppkey FROM heavy)
ORDER BY s_suppkey
"""

ORACLE["q11_important_parts"] = f"""
WITH per_part AS (
  SELECT l_partkey, {sql_dsum("l_extendedprice")} AS part_value
  FROM lineitem GROUP BY l_partkey),
tot AS (SELECT {sql_dsum("part_value")} AS tot, COUNT(*) AS n_parts FROM per_part)
SELECT l_partkey, part_value
FROM per_part, tot
WHERE part_value > CAST(1.4 AS DOUBLE) * tot / n_parts
ORDER BY part_value DESC, l_partkey
"""

ORACLE["multimodal_frame_sample"] = """
WITH base AS (
  SELECT doc_id, text, length(text) AS n, (length(text) % 30) + 1 AS n_frames
  FROM documents),
fr AS (
  SELECT doc_id, text, n, UNNEST(range(0, n_frames, 8)) AS frame_idx FROM base)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
  CAST(CASE WHEN n > 0 THEN (frame_idx * 997) % n ELSE 0 END AS BIGINT) AS frame_off,
  CAST(CASE WHEN n = 0 THEN -1 ELSE COALESCE(list_aggregate(
      list_transform(range((frame_idx * 997) % n, least((frame_idx * 997) % n + 16, n)),
                     j -> ord(substring(text, CAST(j + 1 AS INT), 1))),
      'sum'), 0) END AS BIGINT) AS frame_sig
FROM fr
"""

ORACLE["corpus_dedup_canonical"] = f"""
SELECT doc_id, cluster_size
FROM ({ORACLE["near_dup_components"]}) t
WHERE doc_id = component
"""

ORACLE["user_lifetime"] = """
WITH g AS (
  SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts,
         COUNT(*) AS n_events,
         COUNT(DISTINCT CAST(ts AS DATE)) AS active_days
  FROM events GROUP BY 1),
mx AS (SELECT MAX(ts) AS gm FROM events)
SELECT user_id, first_ts, last_ts, n_events, active_days,
  CAST(FLOOR(CAST(date_diff('microsecond', first_ts, last_ts) AS DOUBLE)
       / 86400000000.0) AS BIGINT) AS lifetime_days,
  date_diff('microsecond', last_ts, gm) > 604800000000 AS churned
FROM g, mx
"""

ORACLE["salted_join_enrich"] = """
WITH u AS (SELECT user_id, COUNT(*) AS n_user_events FROM events GROUP BY 1)
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(n_user_events) AS BIGINT) AS sum_user_events
FROM events JOIN u USING (user_id)
GROUP BY event_type
"""

ORACLE["event_counts_unpivot"] = """
SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour, event_type,
       COUNT(*) AS n
FROM events
GROUP BY 1, 2
"""

ORACLE["daily_value_gapfill"] = f"""
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day, {sql_dsum("value")} AS day_value
  FROM events GROUP BY 1, 2),
span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
spine AS (
  SELECT user_id, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
  FROM span)
SELECT s.user_id, s.day,
       d.day_value IS NOT NULL AS observed,
       LAST_VALUE(d.day_value IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
"""

ORACLE["user_value_trend"] = f"""
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day, {sql_dsum("value")} AS y
  FROM events GROUP BY 1, 2),
d2 AS (
  SELECT user_id, y,
         CAST(CAST(epoch_us(day) / 86400000000 AS BIGINT) AS DOUBLE) AS x
  FROM daily),
g AS (
  SELECT user_id, COUNT(*) AS n, {sql_dsum("x")} AS sx, {sql_dsum("y")} AS sy,
         {sql_qsum("x*x", 0)} AS sxx, {sql_qsum("x*y", 0)} AS sxy
  FROM d2 GROUP BY 1)
SELECT user_id, n,
  (CAST(n AS DOUBLE) * sxy - sx * sy)
    / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope,
  (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
         / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx) / CAST(n AS DOUBLE)
    AS intercept
FROM g WHERE n >= 2
"""

ORACLE["case_visits"] = f"""
WITH e AS (
  SELECT *, CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT) AS case_id
  FROM events),
x AS (
  SELECT user_id, case_id, ts, event_id, value,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR date_diff('microsecond', LAG(ts) OVER w, ts) > 1800000000
         THEN 1 ELSE 0 END AS is_new
  FROM e
  WINDOW w AS (PARTITION BY user_id, case_id ORDER BY ts, event_id)),
s AS (
  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id, case_id
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS visit_id
  FROM x)
SELECT user_id, case_id, visit_id, COUNT(*) AS n_forms,
       MIN(ts) AS visit_start, MAX(ts) AS visit_end,
       {sql_dsum("value")} AS total_value
FROM s GROUP BY 1, 2, 3
"""

ORACLE["daily_click_purchase_reconcile"] = """
WITH c AS (
  SELECT date_trunc('day', ts) AS day, COUNT(DISTINCT user_id) AS click_users
  FROM events WHERE event_type = 'click' GROUP BY 1),
p AS (
  SELECT date_trunc('day', ts) AS day, COUNT(DISTINCT user_id) AS purchase_users
  FROM events WHERE event_type = 'purchase' GROUP BY 1)
SELECT COALESCE(c.day, p.day) AS day,
       COALESCE(click_users, 0) AS click_users,
       COALESCE(purchase_users, 0) AS purchase_users,
       c.day IS NULL OR p.day IS NULL AS one_sided
FROM c FULL OUTER JOIN p ON c.day = p.day
"""

# Winnowing twin (operators/fingerprint.py): k=3 word-grams hashed via
# the portable md5 60-bit prefix, sliding windows of w=4 consecutive
# hashes keep each window's min, pairs share >= 2 distinct selections.
# 1-based window starts run 1..n_grams-w+1; docs with 0 < n_grams < w
# contribute the single min of all their hashes.
ORACLE["winnow_shared_fingerprints"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents),
grams AS (
  SELECT doc_id, gs.i AS i, len(t) - 2 AS n_grams,
         CAST(('0x' || substr(md5(t[gs.i] || ' ' || t[gs.i+1] || ' ' || t[gs.i+2]),
                              1, 15)) AS BIGINT) AS h
  FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(t) - 2)) AS i) gs
  WHERE len(t) >= 3),
winmins AS (
  SELECT doc_id, i, n_grams,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS win_min,
         MIN(h) OVER (PARTITION BY doc_id) AS doc_min
  FROM grams),
fps AS (
  SELECT DISTINCT doc_id,
         CASE WHEN n_grams >= 4 THEN win_min ELSE doc_min END AS fingerprint
  FROM winmins
  WHERE (n_grams >= 4 AND i <= n_grams - 3) OR (n_grams < 4 AND i = 1))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
FROM fps a JOIN fps b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""

# Same md5→60-bit bucket as operators/corpus.py::sample_bucket; the
# CASE mirrors the fractions literal in queries.py (×1e6, sorted keys).
ORACLE["corpus_stratified_sample"] = """
SELECT doc_id, lang
FROM documents
WHERE (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#42'), 1, 15)) AS BIGINT)
       % 1000000)
    < CASE lang WHEN 'de' THEN 1000000 WHEN 'en' THEN 500000
                WHEN 'es' THEN 1000000 WHEN 'fr' THEN 1000000 END
"""

ORACLE["corpus_top_terms"] = r"""
WITH toks AS (
  SELECT doc_id, UNNEST(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents)
SELECT token, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS doc_freq
FROM toks
GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT 25
"""

# --- Training-batch assembly twins (operators/packing.py) -----------------
# The per-row hash is the portable md5 60-bit prefix tagged '#shard42'
# (n_shards=8, seed=42 — mirrors the literals in queries.py).

_SHARD_H = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#shard42'), 1, 15))"
    " AS BIGINT)"
)

ORACLE["train_shard_assign"] = f"""
WITH h AS (SELECT doc_id, {_SHARD_H} AS h FROM documents)
SELECT doc_id, h % 8 AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT)
         AS pos
FROM h
"""

# Greedy first-fit packing as an iterative recurrence: iteration k of
# the recursive CTE assigns the k-th document (in shard-hash order) of
# every shard, carrying (pack_id, running token count) forward.
ORACLE["pack_training_sequences"] = f"""
WITH RECURSIVE base AS (
  SELECT doc_id, {_SHARD_H} AS h, CAST({_NWORDS} AS BIGINT) AS n_tokens
  FROM documents),
ordered AS (
  SELECT doc_id, h % 8 AS shard, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS rn
  FROM base),
packed AS (
  SELECT doc_id, shard, rn, n_tokens, CAST(1 AS BIGINT) AS pack_id,
         n_tokens AS acc
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.doc_id, o.shard, o.rn, o.n_tokens,
         CASE WHEN p.acc + o.n_tokens > 256 THEN p.pack_id + 1
              ELSE p.pack_id END,
         CASE WHEN p.acc + o.n_tokens > 256 THEN o.n_tokens
              ELSE p.acc + o.n_tokens END
  FROM packed p JOIN ordered o ON o.shard = p.shard AND o.rn = p.rn + 1)
SELECT doc_id, shard, pack_id, n_tokens FROM packed
"""

ORACLE["span_dedup_clean"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents),
spans AS (
  SELECT doc_id, gs.i AS idx,
         array_to_string(t[(gs.i*8+1):(gs.i*8+8)], ' ') AS span_text
  FROM toks, LATERAL (SELECT UNNEST(generate_series(0,
         CAST(ceil(len(t) / 8.0) AS BIGINT) - 1)) AS i) gs),
marked AS (
  SELECT doc_id, idx, span_text,
         ROW_NUMBER() OVER (PARTITION BY span_text ORDER BY doc_id, idx) = 1
           AS keep
  FROM spans)
SELECT doc_id,
       COUNT(*) AS n_spans,
       COUNT(*) FILTER (WHERE keep) AS n_kept,
       COALESCE(string_agg(span_text, ' ' ORDER BY idx) FILTER (WHERE keep), '')
         AS clean_text
FROM marked
GROUP BY doc_id
"""

ORACLE["source_cap_sample"] = f"""
WITH x AS (
  SELECT doc_id, source,
    CAST({_NWORDS} AS BIGINT) AS n_words,
    CAST(len(regexp_extract_all(text, '{_PUNCT_RE}')) AS DOUBLE) / length(text)
      AS punct_ratio,
    CAST(len(regexp_extract_all(lower(text), '{_STOP}')) AS DOUBLE) / {_NWORDS}
      AS stopword_ratio
  FROM documents),
q AS (
  SELECT doc_id, source,
         0.4 * stopword_ratio + 0.3 * (1.0 - punct_ratio)
           + 0.3 * LEAST(1.0, n_words / 100.0) AS quality
  FROM x),
rk AS (
  SELECT doc_id, source, quality,
         CAST(ROW_NUMBER() OVER (PARTITION BY source
                                 ORDER BY quality DESC, doc_id) AS BIGINT) AS rk
  FROM q)
SELECT doc_id, source, quality, rk FROM rk WHERE rk <= 15
"""

# SCD2 twin (operators/scd.py): change rows via null-safe lag compare,
# closing timestamps via lead OVER the change rows only.
ORACLE["user_tier_scd2"] = r"""
WITH obs AS (
  SELECT user_id, ts, event_id,
         CAST(FLOOR(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER)
                    / 25) AS INTEGER) AS tier
  FROM events),
lagged AS (
  SELECT user_id, ts, event_id, tier,
         LAG(tier) OVER w AS prev_tier,
         LAG(1) OVER w AS has_prev
  FROM obs WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
changes AS (
  SELECT user_id, ts, event_id, tier FROM lagged
  WHERE has_prev IS NULL OR tier IS DISTINCT FROM prev_tier)
SELECT user_id, tier, ts AS valid_from,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         AS is_current
FROM changes
"""

ORACLE["per_lang_fixed_sample"] = """
WITH h AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#langsample42'),
                              1, 15)) AS BIGINT) AS h
  FROM documents),
rk AS (
  SELECT doc_id, lang,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id)
              AS BIGINT) AS rk
  FROM h)
SELECT doc_id, lang, rk FROM rk WHERE rk <= 10
"""

ORACLE["inverted_index_postings"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents),
tok AS (
  SELECT doc_id, t[gs.i] AS term, CAST(gs.i - 1 AS BIGINT) AS pos
  FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(t))) AS i) gs),
postings AS (
  SELECT term, doc_id,
         array_to_string(list_sort(list(pos)), ',') AS positions,
         COUNT(*) AS tf
  FROM tok GROUP BY term, doc_id),
with_df AS (
  SELECT *, COUNT(*) OVER (PARTITION BY term) AS doc_freq FROM postings)
SELECT term, doc_id, positions, tf, doc_freq
FROM with_df WHERE doc_freq >= 40
"""

# BM25 twin: every float derives from exact integers through the same
# fixed-order expression as the Spark plan (rational idf, no ln;
# avgdl = exact bigint sum / exact count; per-term scores fold in
# literal order spark+data+table), so scores hash-match bitwise.
ORACLE["bm25_search"] = r"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents),
dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, t FROM base),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
tok AS (
  SELECT doc_id, dl, t[gs.i] AS term
  FROM dl, LATERAL (SELECT UNNEST(generate_series(1, len(t))) AS i) gs
  WHERE t[gs.i] IN ('spark', 'data', 'table')),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
  FROM tok GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term,
         ((CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5))
         * (CAST(tf AS DOUBLE) * 2.2)
         / (CAST(tf AS DOUBLE)
            + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
                                  / (CAST(sum_dl AS DOUBLE) / n_docs)))
           AS s
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats),
per AS (
  SELECT doc_id,
         MAX(CASE WHEN term = 'spark' THEN s END) AS s_spark,
         MAX(CASE WHEN term = 'data'  THEN s END) AS s_data,
         MAX(CASE WHEN term = 'table' THEN s END) AS s_table
  FROM scored GROUP BY doc_id)
SELECT doc_id,
       COALESCE(s_spark, 0.0) + COALESCE(s_data, 0.0) + COALESCE(s_table, 0.0)
         AS score
FROM per
ORDER BY score DESC, doc_id
LIMIT 20
"""

ORACLE["table_fingerprint"] = """
SELECT o_orderstatus, COUNT(*) AS n_rows,
       CAST(CAST(SUM(CAST(CAST(('0x' || substr(md5(
               CAST(o_orderkey AS VARCHAR) || '|' ||
               CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus),
             1, 15)) AS BIGINT) AS HUGEINT)) AS DECIMAL(38,0)) AS VARCHAR)
         AS checksum
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

ORACLE["orders_snapshot_diff"] = """
WITH old AS (
  SELECT o_orderkey, o_orderstatus AS old_status
  FROM orders WHERE o_orderdate < TIMESTAMP '2001-01-01'),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_totalprice > 200000 THEN 'F' ELSE o_orderstatus END
           AS new_status
  FROM orders
  WHERE o_orderdate < TIMESTAMP '2001-01-01' OR o_orderpriority = '1-URGENT')
SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
       old_status, new_status,
       CASE WHEN old_status IS NULL THEN 'added'
            WHEN new_status IS NULL THEN 'removed'
            WHEN old_status IS DISTINCT FROM new_status THEN 'changed'
            ELSE 'unchanged' END AS change_kind
FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
WHERE (CASE WHEN old_status IS NULL THEN 'added'
            WHEN new_status IS NULL THEN 'removed'
            WHEN old_status IS DISTINCT FROM new_status THEN 'changed'
            ELSE 'unchanged' END) != 'unchanged'
"""

# L30 composite: the same stage chain as queries.py, ending in the
# packing recursion over SURVIVORS (filters reuse the proven _QUALITY /
# _NORM_TEXT / 5-gram / _SHARD_H / _NWORDS building blocks).
ORACLE["training_data_manifest"] = rf"""
WITH RECURSIVE scored AS (
  SELECT doc_id, text, {{q}} AS quality
  FROM documents WHERE doc_id % 97 <> 0),
q AS (SELECT doc_id, text FROM scored WHERE quality >= 0.5),
dedup AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           ROW_NUMBER() OVER (PARTITION BY md5({{norm}}) ORDER BY doc_id) AS rn
    FROM q) t
  WHERE rn = 1),
toks_all AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents),
bench AS (
  SELECT DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
         || ' ' || t[i+4] AS shingle
  FROM toks_all, UNNEST(range(1, len(t) - 3)) AS u(i)
  WHERE doc_id % 97 = 0 AND len(t) >= 5),
contaminated AS (
  SELECT DISTINCT d.doc_id
  FROM dedup d JOIN toks_all ta ON ta.doc_id = d.doc_id,
       UNNEST(range(1, len(ta.t) - 3)) AS u(i)
  WHERE len(ta.t) >= 5
    AND (ta.t[i] || ' ' || ta.t[i+1] || ' ' || ta.t[i+2] || ' ' || ta.t[i+3]
         || ' ' || ta.t[i+4]) IN (SELECT shingle FROM bench)),
survivors AS (
  SELECT d.doc_id FROM dedup d
  WHERE NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.doc_id = d.doc_id)),
base AS (
  SELECT doc_id, {{h}} AS h, CAST({{nw}} AS BIGINT) AS n_tokens
  FROM documents WHERE doc_id IN (SELECT doc_id FROM survivors)),
ordered AS (
  SELECT doc_id, h % 8 AS shard, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS rn
  FROM base),
packed AS (
  SELECT doc_id, shard, rn, n_tokens, CAST(1 AS BIGINT) AS pack_id,
         n_tokens AS acc
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.doc_id, o.shard, o.rn, o.n_tokens,
         CASE WHEN p.acc + o.n_tokens > 256 THEN p.pack_id + 1
              ELSE p.pack_id END,
         CASE WHEN p.acc + o.n_tokens > 256 THEN o.n_tokens
              ELSE p.acc + o.n_tokens END
  FROM packed p JOIN ordered o ON o.shard = p.shard AND o.rn = p.rn + 1)
SELECT doc_id, shard, pack_id, n_tokens FROM packed
""".format(q=_QUALITY, norm=_NORM_TEXT, h=_SHARD_H, nw=_NWORDS)


# L31: mixture reweighting. Double divisions mirror the Spark plan's
# association exactly: share = CAST(tokens AS DOUBLE) / window-sum,
# demand = target/share, rate = demand / window-max.
ORACLE["corpus_mixture_weights"] = f"""
WITH per AS (
  SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM(CAST({_NWORDS} AS BIGINT)) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang),
shares AS (
  SELECT lang, n_docs, n_tokens,
         CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER () AS token_share,
         CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.125
                   WHEN 'es' THEN 0.125 WHEN 'fr' THEN 0.125
                   WHEN 'zh' THEN 0.125 ELSE 0.0 END AS target_share
  FROM per),
d AS (
  SELECT lang, n_docs, n_tokens, token_share, target_share,
         target_share / token_share AS demand
  FROM shares)
SELECT lang, n_docs, n_tokens, token_share, target_share,
       demand / MAX(demand) OVER () AS accept_rate,
       CAST(n_tokens AS DOUBLE) * (demand / MAX(demand) OVER ()) AS kept_tokens
FROM d ORDER BY lang
"""


def _incremental_minhash_oracle() -> str:
    """L32 twin: same signature construction as _minhash_oracle, but
    candidates pair the incoming batch (doc_id % 5 = 0) against the
    existing corpus (doc_id % 5 <> 0) and each batch doc keeps only its
    best corpus match (max est_jaccard, ties to the lowest corpus id)."""
    from dimagi_data_platform_spark.operators.minhash import MINHASH_P, _hash_params

    params = _hash_params(64, 42)
    sig_cols = ",\n  ".join(
        f"MIN(({a}*h + {b}) % {MINHASH_P}) AS s{i}"
        for i, (a, b) in enumerate(params)
    )
    band_or = "\n    OR ".join(
        "(" + " AND ".join(f"a.s{b * 4 + j} = b.s{b * 4 + j}" for j in range(4)) + ")"
        for b in range(16)
    )
    eq_sum = " + ".join(
        f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)" for i in range(64)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3),
hs AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % {MINHASH_P} AS h
  FROM sh),
sig AS (SELECT doc_id,
  {sig_cols}
  FROM hs GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS matched_doc_id,
         CAST({eq_sum} AS DOUBLE) / 64 AS est_jaccard
  FROM sig a JOIN sig b
    ON a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0 AND ({band_or})),
best AS (
  SELECT doc_id, matched_doc_id, est_jaccard,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY est_jaccard DESC, matched_doc_id) AS rk
  FROM cand WHERE est_jaccard >= 0.2)
SELECT doc_id, matched_doc_id, est_jaccard FROM best WHERE rk = 1
"""


ORACLE["incremental_minhash_dedup"] = _incremental_minhash_oracle()


# L34: linear quality classifier. Feature and weight fold order match
# the Spark projection literally.
ORACLE["quality_classifier_filter"] = f"""
WITH x AS (
  SELECT doc_id,
    LEAST(1.0, CAST({_NWORDS} AS BIGINT) / 100.0) AS f_len,
    CAST(len(regexp_extract_all(text, '{_PUNCT_RE}')) AS DOUBLE)
      / length(text) AS f_punct,
    CAST(len(regexp_extract_all(lower(text), '{_STOP}')) AS DOUBLE)
      / CAST({_NWORDS} AS BIGINT) AS f_stop,
    CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
      / length(text) AS f_digit,
    CAST(len(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))) AS DOUBLE)
      / len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS f_uniq
  FROM documents)
SELECT doc_id, f_len, f_punct, f_stop, f_digit, f_uniq,
       -0.78 + 0.8 * f_len + -1.2 * f_punct + 1.0 * f_stop
            + -0.7 * f_digit + 0.6 * f_uniq AS score,
       (-0.78 + 0.8 * f_len + -1.2 * f_punct + 1.0 * f_stop
            + -0.7 * f_digit + 0.6 * f_uniq) >= 0.0 AS keep
FROM x
"""


# P11b: forward as-of — the semantic definition as a scalar subquery.
ORACLE["events_asof_join_forward"] = """
SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
  (SELECT MIN(c.ts) FROM events c
    WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts >= p.ts)
  AS next_click_ts
FROM events p
WHERE p.event_type = 'purchase'
"""


# P26: blocked fuzzy record linkage.
ORACLE["customer_fuzzy_match"] = """
SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 2
"""


# R49: equi-width histogram with exact decimal bucket sums.
ORACLE["order_value_histogram"] = f"""
SELECT LEAST(19, CAST(FLOOR(o_totalprice / 30000.0) AS BIGINT)) AS bucket,
       CAST(LEAST(19, CAST(FLOOR(o_totalprice / 30000.0) AS BIGINT)) * 30000
            AS DOUBLE) AS bucket_lo,
       COUNT(*) AS n_orders,
       {sql_dsum("o_totalprice")} AS sum_value
FROM orders
GROUP BY 1, 2
ORDER BY bucket
"""


# P26b: sorted-neighborhood pairs; the oracle uses the plain global
# window the Spark side deliberately avoids (same rank by totality of
# the (name, key) order).
ORACLE["customer_sorted_neighborhood"] = """
WITH ranked AS (
  SELECT c_custkey, ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS rn
  FROM customer)
SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
       CAST(b.rn - a.rn AS BIGINT) AS rank_dist
FROM ranked a JOIN ranked b
  ON b.rn > a.rn AND b.rn <= a.rn + 3
"""


# R16b: typed JSON extraction (DuckDB's built-in JSON functions).
ORACLE["props_typed_extract"] = """
SELECT event_id, user_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
       CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50 AS k_is_high
FROM events
"""


# R50: exact median + MAD + 3-MAD outlier counts (discrete rank-at-ceil
# medians, no interpolation).
ORACLE["order_value_mad_outliers"] = """
WITH r1 AS (
  SELECT o_orderpriority, o_totalprice, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders),
med AS (
  SELECT o_orderpriority,
         MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
                  THEN o_totalprice END) AS med
  FROM r1 GROUP BY o_orderpriority),
dev AS (
  SELECT o.o_orderpriority, o.o_totalprice, o.o_orderkey, med.med,
         ABS(o.o_totalprice - med.med) AS dev
  FROM orders o JOIN med USING (o_orderpriority)),
r2 AS (
  SELECT o_orderpriority, dev,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY dev, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM dev),
mad AS (
  SELECT o_orderpriority,
         MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT) THEN dev END) AS mad
  FROM r2 GROUP BY o_orderpriority)
SELECT d.o_orderpriority,
       MAX(d.med) AS med, MAX(mad.mad) AS mad,
       CAST(SUM(CASE WHEN d.dev > 3.0 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       COUNT(*) AS n_orders
FROM dev d JOIN mad USING (o_orderpriority)
GROUP BY d.o_orderpriority
ORDER BY d.o_orderpriority
"""


# L31b: mixture weights applied as a portable Bernoulli resample.
ORACLE["corpus_mixture_sample"] = f"""
WITH per AS (
  SELECT lang, SUM(CAST({_NWORDS} AS BIGINT)) AS n_tokens
  FROM documents GROUP BY lang),
shares AS (
  SELECT lang,
         CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER () AS token_share,
         CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.125
                   WHEN 'es' THEN 0.125 WHEN 'fr' THEN 0.125
                   WHEN 'zh' THEN 0.125 ELSE 0.0 END AS target_share
  FROM per),
d AS (
  SELECT lang, target_share / token_share AS demand FROM shares),
w AS (
  SELECT lang, demand / MAX(demand) OVER () AS accept_rate FROM d)
SELECT doc_id, documents.lang, accept_rate
FROM documents JOIN w ON documents.lang = w.lang
WHERE (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#mix42'), 1, 15))
            AS BIGINT) % 1000000)
    < CAST(FLOOR(accept_rate * 1000000.0) AS BIGINT)
"""


# R51: hierarchical share-of-parent. Integer revenue units flow through
# the window subtotals; every division is one IEEE op on exact operands.
ORACLE["nation_revenue_share"] = """
WITH per_nation AS (
  SELECT r_name, n_name,
         SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 10.0)
                  AS DECIMAL(38,0))) AS units
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name)
SELECT r_name, n_name,
       CAST(units AS DOUBLE) / 10.0 AS revenue,
       CAST(units AS DOUBLE)
         / CAST(SUM(units) OVER (PARTITION BY r_name) AS DOUBLE)
         AS region_share,
       CAST(units AS DOUBLE) / CAST(SUM(units) OVER () AS DOUBLE)
         AS total_share
FROM per_nation
ORDER BY r_name, n_name
"""


# L35: BPE first-iteration pair statistics.
ORACLE["bpe_pair_counts"] = r"""
WITH words AS (
  SELECT UNNEST(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
  FROM documents),
wf AS (SELECT w, COUNT(*) AS freq FROM words GROUP BY w),
fw AS (SELECT w, freq FROM wf WHERE length(w) >= 2),
pairs AS (
  SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b, freq
  FROM fw, UNNEST(range(1, length(w))) AS u(i))
SELECT a, b, CAST(SUM(freq) AS BIGINT) AS pair_count
FROM pairs GROUP BY a, b
ORDER BY pair_count DESC, a, b
LIMIT 50
"""


# P29: 3-step behavioral sequences.
ORACLE["event_type_trigrams"] = """
WITH seq AS (
  SELECT event_type AS t1,
         LEAD(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS t2,
         LEAD(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS t3
  FROM events)
SELECT t1, t2, t3, COUNT(*) AS n_sequences
FROM seq WHERE t3 IS NOT NULL
GROUP BY t1, t2, t3
ORDER BY n_sequences DESC, t1, t2, t3
LIMIT 20
"""

# R52: same-order part pair counts.
ORACLE["co_purchased_parts"] = """
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY a.l_partkey, b.l_partkey
ORDER BY n_orders DESC, part_a, part_b
LIMIT 25
"""


# L36: duplication profile over the recursive-CTE component closure.
ORACLE["near_dup_cluster_sizes"] = f"""
WITH base AS ({ORACLE["near_dup_components"]})
SELECT cluster_size,
       COUNT(DISTINCT component) AS n_clusters,
       COUNT(*) AS n_docs
FROM base GROUP BY cluster_size ORDER BY cluster_size
"""


# P26c: sorted-neighborhood candidates verified by edit distance.
ORACLE["sorted_neighborhood_fuzzy"] = """
WITH ranked AS (
  SELECT c_custkey, c_name,
         ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS rn
  FROM customer)
SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
       CAST(b.rn - a.rn AS BIGINT) AS rank_dist,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist
FROM ranked a JOIN ranked b
  ON b.rn > a.rn AND b.rn <= a.rn + 3
WHERE levenshtein(a.c_name, b.c_name) <= 2
"""


# R53: rolling correlation from exact integer moment sums.
ORACLE["rolling_click_purchase_corr"] = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
  FROM events GROUP BY 1),
m AS (
  SELECT day, x, y,
         COUNT(*) OVER w AS n,
         SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
         SUM(x*x) OVER w AS sxx, SUM(y*y) OVER w AS syy,
         SUM(x*y) OVER w AS sxy
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
SELECT day, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0 THEN
         CAST(n*sxy - sx*sy AS DOUBLE)
           / SQRT(CAST(n*sxx - sx*sx AS DOUBLE)
                  * CAST(n*syy - sy*sy AS DOUBLE))
       END AS corr_7d,
       n AS n_days
FROM m ORDER BY day
"""


# P30: two-proportion z-test, float chain mirrored literally.
ORACLE["segment_conversion_ztest"] = """
WITH buyers AS (
  SELECT c_custkey, c_mktsegment FROM customer
  WHERE c_custkey IN (SELECT o_custkey FROM orders)),
per AS (
  SELECT c.c_mktsegment,
         COUNT(*) AS n,
         (SELECT COUNT(*) FROM buyers b
           WHERE b.c_mktsegment = c.c_mktsegment) AS k
  FROM customer c GROUP BY c.c_mktsegment),
tot AS (
  -- NB: quoted "N"/"K" here would resolve CASE-INSENSITIVELY back to
  -- the per-segment n/k (DuckDB matches identifiers case-insensitively,
  -- first column wins), silently zeroing "N" - n and making the z
  -- branch vacuously NULL — caught by the sf0.1 parity sweep where
  -- Spark's (correct) totals first diverge from per-segment counts.
  SELECT c_mktsegment, n, k,
         SUM(n) OVER () AS tot_n, SUM(k) OVER () AS tot_k
  FROM per)
SELECT c_mktsegment, n, k AS conversions,
       CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS conv_rate,
       CASE WHEN tot_n > n AND tot_k > 0 AND tot_k < tot_n THEN
         (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
          - CAST(tot_k - k AS DOUBLE) / CAST(tot_n - n AS DOUBLE))
         / SQRT((CAST(tot_k AS DOUBLE) / CAST(tot_n AS DOUBLE))
                * (1.0 - CAST(tot_k AS DOUBLE) / CAST(tot_n AS DOUBLE))
                * (1.0 / CAST(n AS DOUBLE) + 1.0 / CAST(tot_n - n AS DOUBLE)))
       END AS z_score
FROM tot ORDER BY c_mktsegment
"""

# --------------------------------------------------------------------------
# Round 4: interval analytics, sequence audits, funnels, anomalies,
# equi-depth histograms, inter-arrival stats
# --------------------------------------------------------------------------

ORACLE["max_concurrent_visits"] = """
WITH x AS (
  SELECT user_id, ts, event_id,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR date_diff('microsecond', LAG(ts) OVER w, ts) > 1800000000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM x),
v AS (
  SELECT user_id, session_id, MIN(ts) AS lo, MAX(ts) AS hi
  FROM s GROUP BY user_id, session_id),
d AS (
  SELECT lo AS ts, 1 AS delta FROM v
  UNION ALL
  SELECT hi AS ts, -1 AS delta FROM v),
g AS (
  SELECT ts, CASE WHEN delta > 0 THEN 1 ELSE -1 END AS sign,
         CAST(SUM(delta) AS BIGINT) AS delta
  FROM d GROUP BY ts, CASE WHEN delta > 0 THEN 1 ELSE -1 END),
r AS (
  SELECT ts, delta,
         CAST(SUM(delta) OVER (ORDER BY ts, sign DESC) AS BIGINT) AS concurrency
  FROM g)
SELECT date_trunc('day', ts) AS day,
       MAX(concurrency) AS peak_concurrency,
       CAST(SUM(CASE WHEN delta > 0 THEN delta ELSE 0 END) AS BIGINT) AS n_starts
FROM r GROUP BY date_trunc('day', ts) ORDER BY day
"""

ORACLE["orderkey_islands"] = """
WITH r AS (
  SELECT o_orderkey,
         ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
  FROM (SELECT DISTINCT o_orderkey FROM orders))
SELECT MIN(o_orderkey) AS start_key, MAX(o_orderkey) AS end_key,
       COUNT(*) AS n_keys
FROM r GROUP BY o_orderkey - rn
ORDER BY n_keys DESC, start_key LIMIT 20
"""

ORACLE["funnel_3step_windowed"] = """
WITH signup AS (
  SELECT user_id, MIN(ts) AS signup_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id),
c1 AS (
  SELECT s.user_id, MIN(e.ts) AS first_click_ts
  FROM signup s JOIN events e ON e.user_id = s.user_id
  WHERE e.event_type = 'click'
    AND e.ts > s.signup_ts AND e.ts <= s.signup_ts + INTERVAL 7 DAY
  GROUP BY s.user_id),
p1 AS (
  SELECT c.user_id, MIN(e.ts) AS first_purchase_ts
  FROM c1 c JOIN events e ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase'
    AND e.ts > c.first_click_ts AND e.ts <= c.first_click_ts + INTERVAL 7 DAY
  GROUP BY c.user_id)
SELECT date_trunc('month', s.signup_ts) AS cohort_month,
       COUNT(*) AS n_signup,
       COUNT(c.first_click_ts) AS n_click,
       COUNT(p.first_purchase_ts) AS n_purchase,
       CAST(COUNT(c.first_click_ts) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS click_rate,
       CAST(COUNT(p.first_purchase_ts) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS purchase_rate
FROM signup s
LEFT JOIN c1 c ON c.user_id = s.user_id
LEFT JOIN p1 p ON p.user_id = s.user_id
GROUP BY date_trunc('month', s.signup_ts)
ORDER BY cohort_month
"""

ORACLE["daily_event_anomalies"] = """
WITH d AS (
  SELECT date_trunc('day', ts) AS day, COUNT(*) AS n_events
  FROM events GROUP BY date_trunc('day', ts)),
w AS (
  SELECT day, n_events,
         COUNT(*) OVER win AS n,
         CAST(COALESCE(SUM(n_events) OVER win, 0) AS BIGINT) AS sx,
         CAST(COALESCE(SUM(n_events * n_events) OVER win, 0) AS BIGINT) AS sxx
  FROM d
  WINDOW win AS (ORDER BY day ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING)),
z AS (
  SELECT day, n_events, n AS n_baseline_days,
         CASE WHEN n >= 14 AND (n * sxx - sx * sx) > 0 THEN
           CAST(n * n_events - sx AS DOUBLE)
           / SQRT(CAST(n * (n * sxx - sx * sx) AS DOUBLE)
                  / CAST(n - 1 AS DOUBLE))
         END AS z_score
  FROM w)
SELECT day, n_events, n_baseline_days, z_score,
       COALESCE(ABS(z_score) > 3.0, FALSE) AS is_anomaly
FROM z ORDER BY day
"""

ORACLE["order_value_equidepth_histogram"] = f"""
WITH r AS (
  SELECT o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn
  FROM orders),
t AS (SELECT COUNT(*) AS n_total FROM orders)
SELECT CAST(1 + ((rn - 1) * 10) // n_total AS BIGINT) AS bucket,
       COUNT(*) AS n_orders,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price,
       {sql_dsum("o_totalprice")} AS sum_price
FROM r, t
GROUP BY CAST(1 + ((rn - 1) * 10) // n_total AS BIGINT)
ORDER BY bucket
"""

ORACLE["interorder_gap_stats"] = """
WITH g AS (
  SELECT o_custkey,
         CAST(CAST(o_orderdate AS DATE)
              - CAST(LAG(o_orderdate) OVER w AS DATE) AS BIGINT) AS gap_days
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
b AS (
  SELECT o_custkey, gap_days,
         CASE WHEN gap_days <= 7 THEN '0-7d'
              WHEN gap_days <= 30 THEN '8-30d'
              WHEN gap_days <= 90 THEN '31-90d'
              ELSE '90d+' END AS gap_bucket
  FROM g WHERE gap_days IS NOT NULL)
SELECT gap_bucket,
       COUNT(*) AS n_gaps,
       COUNT(DISTINCT o_custkey) AS n_customers,
       CAST(SUM(gap_days) AS BIGINT) AS total_gap_days,
       CAST(SUM(gap_days) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_gap_days
FROM b GROUP BY gap_bucket ORDER BY gap_bucket
"""

ORACLE["char_entropy"] = """
WITH ch AS (
  SELECT doc_id, substr(lower(text), CAST(i AS INT), 1) AS ch
  FROM documents, LATERAL (SELECT unnest(range(1, length(text) + 1)) AS i) u),
cnt AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY doc_id, ch),
agg AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_chars,
         COUNT(*) AS distinct_chars,
         CAST(SUM(c * c) AS BIGINT) AS sum_c2,
         CAST(SUM(c * CAST(FLOOR(LN(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT))
              AS BIGINT) AS hterm
  FROM cnt GROUP BY doc_id)
SELECT doc_id, n_chars, distinct_chars,
       1.0 - CAST(sum_c2 AS DOUBLE) / CAST(n_chars * n_chars AS DOUBLE)
         AS gini_simpson,
       CAST(n_chars * CAST(FLOOR(LN(CAST(n_chars AS DOUBLE)) * 1000000.0) AS BIGINT)
            - hterm AS DOUBLE)
         / CAST(n_chars * 1000000 AS DOUBLE) AS entropy_nats
FROM agg WHERE n_chars > 0 ORDER BY doc_id
"""

ORACLE["ngram_diversity"] = r"""
WITH toks AS (
  SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents),
tt AS (
  SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM(GREATEST(len(t) - 2, 0)) AS BIGINT) AS total_trigrams
  FROM toks GROUP BY lang),
g AS (
  SELECT lang, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3),
dg AS (SELECT lang, COUNT(DISTINCT gram) AS distinct_trigrams FROM g GROUP BY lang)
SELECT lang, n_docs, total_trigrams, distinct_trigrams,
       CAST(distinct_trigrams AS DOUBLE) / CAST(total_trigrams AS DOUBLE)
         AS distinct_ratio
FROM tt JOIN dg USING (lang) ORDER BY lang
"""

ORACLE["dsir_importance_weights"] = r"""
WITH toks AS (
  SELECT doc_id, source, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents),
feats AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1]), 1, 15)) AS BIGINT)
           % 512 AS bucket
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2),
per_bucket AS (
  SELECT bucket,
         CAST(COUNT(*) AS BIGINT) AS n_raw,
         CAST(SUM(CASE WHEN source IN ('src0','src1','src2','src3')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_tgt
  FROM feats GROUP BY bucket),
totals AS (
  SELECT CAST(SUM(n_raw) AS BIGINT) AS big_n_raw,
         CAST(SUM(n_tgt) AS BIGINT) AS big_n_tgt
  FROM per_bucket),
lr AS (
  SELECT bucket,
         CAST(FLOOR(LN((CAST(n_tgt + 1 AS DOUBLE) * CAST(big_n_raw + 512 AS DOUBLE))
                       / (CAST(n_raw + 1 AS DOUBLE) * CAST(big_n_tgt + 512 AS DOUBLE)))
                    * 1000000.0) AS BIGINT) AS lr
  FROM per_bucket, totals),
doc_buckets AS (
  SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM feats GROUP BY doc_id, bucket)
SELECT d.doc_id,
       CAST(SUM(d.cnt) AS BIGINT) AS n_bigrams,
       CAST(SUM(d.cnt * l.lr) AS BIGINT) AS score_fixed,
       CAST(CAST(SUM(d.cnt * l.lr) AS BIGINT) AS DOUBLE) / 1000000.0
         AS dsir_logweight
FROM doc_buckets d JOIN lr l USING (bucket)
GROUP BY d.doc_id ORDER BY d.doc_id
"""

ORACLE["co_purchase_triangles"] = """
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
deg AS (
  SELECT p, COUNT(*) AS deg
  FROM (SELECT u AS p FROM e UNION ALL SELECT v AS p FROM e)
  GROUP BY p),
d AS (
  SELECT CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v END AS src,
         CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u END AS dst,
         CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN dv.deg ELSE du.deg END AS ddst
  FROM e
  JOIN deg du ON du.p = e.u
  JOIN deg dv ON dv.p = e.v),
tri AS (
  SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
  FROM d w1
  JOIN d w2 ON w1.src = w2.src AND (w1.ddst, w1.dst) < (w2.ddst, w2.dst)
  JOIN d e3 ON e3.src = w1.dst AND e3.dst = w2.dst),
corners AS (
  SELECT a AS p FROM tri
  UNION ALL SELECT b AS p FROM tri
  UNION ALL SELECT c AS p FROM tri)
SELECT p AS p_partkey, COUNT(*) AS n_triangles
FROM corners GROUP BY p
ORDER BY n_triangles DESC, p_partkey LIMIT 20
"""


def _pagerank_sql(n_iter: int = 5) -> str:
    """Unrolled integer fixed-point PageRank over the co-purchase
    graph — the SQL twin of operators/graph.pagerank: every iteration
    is the identical integer recurrence (contribution r//outdeg,
    damping via 85*x//100, teleport (15*(scale//n))//100), so the
    fixed-point ranks hash-match bit for bit. The co-purchase graph is
    undirected, so there are no dangling vertices and the dangling
    term is identically zero on both sides."""
    scale = 1000000000000000
    ctes = [
        """lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)""",
        """e0 AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)""",
        """e AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM e0
  UNION ALL SELECT v AS src, u AS dst FROM e0)""",
        """verts AS MATERIALIZED (SELECT DISTINCT src AS p FROM e)""",
        """outdeg AS MATERIALIZED (SELECT src AS p, COUNT(*) AS outdeg FROM e GROUP BY src)""",
        """nv AS (SELECT COUNT(*) AS n FROM verts)""",
        f"""r0 AS (SELECT p, CAST({scale} // n AS BIGINT) AS r FROM verts, nv)""",
    ]
    for k in range(1, n_iter + 1):
        ctes.append(
            f"""r{k} AS MATERIALIZED (
  SELECT v.p,
         CAST((15 * ({scale} // n)) // 100
              + (85 * COALESCE(s.inflow, 0)) // 100 AS BIGINT) AS r
  FROM verts v
  LEFT JOIN (
    SELECT e.dst AS p, CAST(SUM(r.r // o.outdeg) AS BIGINT) AS inflow
    FROM e
    JOIN r{k - 1} r ON r.p = e.src
    JOIN outdeg o ON o.p = e.src
    GROUP BY e.dst) s ON s.p = v.p, nv)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT p AS p_partkey, r AS rank_fixed,
       CAST(r AS DOUBLE) / 1e15 AS pagerank
FROM r{n_iter}
ORDER BY rank_fixed DESC, p_partkey LIMIT 20"""
    )


ORACLE["part_pagerank"] = _pagerank_sql(5)

ORACLE["event_transition_matrix"] = """
WITH steps AS (
  SELECT user_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS from_type,
         event_type AS to_type
  FROM events),
c AS (
  SELECT from_type, to_type, COUNT(*) AS n_transitions
  FROM steps WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type)
SELECT from_type, to_type, n_transitions,
       CAST(n_transitions AS DOUBLE)
         / CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE)
         AS prob
FROM c ORDER BY from_type, to_type
"""

ORACLE["zipf_slope"] = r"""
WITH words AS (
  SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
  FROM documents),
tf AS (SELECT lang, w, COUNT(*) AS freq FROM words GROUP BY lang, w),
ranked AS (
  SELECT lang, freq,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY freq DESC, w) AS rank
  FROM tf QUALIFY rank <= 1000),
q AS (
  SELECT lang,
         CAST(FLOOR(LN(CAST(rank AS DOUBLE)) * 1000.0) AS BIGINT) AS x,
         CAST(FLOOR(LN(CAST(freq AS DOUBLE)) * 1000.0) AS BIGINT) AS y
  FROM ranked),
agg AS (
  SELECT lang, COUNT(*) AS n_terms,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM q GROUP BY lang)
SELECT lang, n_terms,
       CASE WHEN (n_terms * sxx - sx * sx) > 0 THEN
         CAST(n_terms * sxy - sx * sy AS DOUBLE)
           / CAST(n_terms * sxx - sx * sx AS DOUBLE)
       END AS zipf_slope
FROM agg ORDER BY lang
"""

ORACLE["ewma_daily_value"] = """
WITH d AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) AS BIGINT) AS vq
  FROM events GROUP BY date_trunc('day', ts)),
l AS (
  SELECT day, vq,
         LAG(vq, 0) OVER w * 128 + LAG(vq, 1) OVER w * 64
         + LAG(vq, 2) OVER w * 32 + LAG(vq, 3) OVER w * 16
         + LAG(vq, 4) OVER w * 8 + LAG(vq, 5) OVER w * 4
         + LAG(vq, 6) OVER w * 2 + LAG(vq, 7) OVER w * 1 AS weighted
  FROM d WINDOW w AS (ORDER BY day))
SELECT day, CAST(vq AS DOUBLE) / 100.0 AS daily_value,
       CAST(CAST(weighted AS BIGINT) AS DOUBLE) / 25600.0 AS ewma_value
FROM l ORDER BY day
"""

ORACLE["purchase_tier_enrich"] = r"""
WITH obs AS (
  SELECT user_id, ts, event_id,
         CAST(FLOOR(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER)
                    / 25) AS INTEGER) AS tier
  FROM events),
lagged AS (
  SELECT user_id, ts, event_id, tier,
         LAG(tier) OVER w AS prev_tier,
         LAG(1) OVER w AS has_prev
  FROM obs WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
changes AS (
  SELECT user_id, ts, event_id, tier FROM lagged
  WHERE has_prev IS NULL OR tier IS DISTINCT FROM prev_tier),
dim AS (
  SELECT user_id, tier, ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
  FROM changes)
SELECT e.event_id, e.user_id, e.ts, d.tier, e.value
FROM events e
JOIN dim d ON d.user_id = e.user_id
          AND d.valid_from <= e.ts
          AND (d.valid_to IS NULL OR e.ts < d.valid_to)
WHERE e.event_type = 'purchase'
ORDER BY e.event_id
"""


ORACLE["knn_label_filtered"] = ORACLE["knn_bruteforce"].replace(
    "embedding AS c_vec FROM embeddings)",
    "embedding AS c_vec FROM embeddings WHERE label = 1)",
)

ORACLE["lang_confusion"] = f"""
WITH s AS (
  SELECT doc_id, lang,
    {_score_cols}
  FROM documents),
p AS (
  SELECT lang,
    CASE
      WHEN c_en > 0 AND c_en >= GREATEST(c_es, c_de, c_fr) THEN 'en'
      WHEN c_es > 0 AND c_es >= GREATEST(c_en, c_de, c_fr) THEN 'es'
      WHEN c_de > 0 AND c_de >= GREATEST(c_en, c_es, c_fr) THEN 'de'
      WHEN c_fr > 0 AND c_fr >= GREATEST(c_en, c_es, c_de) THEN 'fr'
      ELSE 'und'
    END AS lang_pred
  FROM s),
cells AS (
  SELECT lang, lang_pred, COUNT(*) AS n_docs
  FROM p GROUP BY lang, lang_pred)
SELECT lang, lang_pred, n_docs,
       CAST(n_docs AS DOUBLE)
         / CAST(SUM(n_docs) OVER (PARTITION BY lang) AS DOUBLE) AS frac_of_lang
FROM cells ORDER BY lang, lang_pred
"""

ORACLE["visits_outage_overlap"] = """
WITH x AS (
  SELECT user_id, ts, event_id,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR date_diff('microsecond', LAG(ts) OVER w, ts) > 1800000000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM x),
v AS (
  SELECT user_id, session_id, MIN(ts) AS lo, MAX(ts) AS hi
  FROM s GROUP BY user_id, session_id),
ex AS (
  SELECT ts, event_id,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR date_diff('microsecond', LAG(ts) OVER w, ts) > 900000000
         THEN 1 ELSE 0 END AS is_new
  FROM events WHERE event_type = 'error'
  WINDOW w AS (ORDER BY ts, event_id)),
es AS (
  SELECT ts, CAST(SUM(is_new) OVER (ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS outage_id
  FROM ex),
o AS (
  SELECT outage_id, MIN(ts) AS r_lo, MAX(ts) AS r_hi, COUNT(*) AS n_errors
  FROM es GROUP BY outage_id
  HAVING COUNT(*) >= 2)
SELECT v.user_id, v.session_id, o.outage_id,
       CAST(date_diff('microsecond',
                      GREATEST(v.lo, o.r_lo),
                      LEAST(v.hi, o.r_hi)) AS DOUBLE) / 1000000.0
         AS overlap_seconds
FROM v JOIN o ON v.lo <= o.r_hi AND o.r_lo <= v.hi
ORDER BY v.user_id, v.session_id, o.outage_id
"""

ORACLE["bigram_lm_perplexity"] = r"""
WITH toks0 AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents),
toks AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM toks0, UNNEST(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM toks GROUP BY w1, w2),
c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
vocab AS (
  SELECT COUNT(DISTINCT w) AS v
  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        FROM documents)),
lm AS (
  SELECT w1, w2,
         CAST(FLOOR(LN(CAST(c12.c12 + 1 AS DOUBLE)
                       / CAST(c1.c1 + vocab.v AS DOUBLE)) * -1000000.0)
              AS BIGINT) AS nll_fixed_unit
  FROM c12 JOIN c1 USING (w1), vocab),
per_doc AS (
  SELECT doc_id, w1, w2, COUNT(*) AS cnt FROM toks GROUP BY doc_id, w1, w2)
SELECT d.doc_id,
       CAST(SUM(d.cnt) AS BIGINT) AS n_bigrams,
       CAST(SUM(d.cnt * l.nll_fixed_unit) AS BIGINT) AS nll_fixed,
       CAST(CAST(SUM(d.cnt * l.nll_fixed_unit) AS BIGINT) AS DOUBLE)
         / CAST(CAST(SUM(d.cnt) AS BIGINT) * 1000000 AS DOUBLE) AS avg_nll
FROM per_doc d JOIN lm l USING (w1, w2)
GROUP BY d.doc_id ORDER BY d.doc_id
"""

ORACLE["near_dup_eval"] = f"""
WITH mh AS (SELECT id_a, id_b FROM ({ORACLE["minhash_lsh_dedup"]}) s),
tr AS (SELECT doc_a AS id_a, doc_b AS id_b
       FROM ({ORACLE["ngram_jaccard_pairs"]}) s WHERE jaccard >= 0.2),
hit AS (SELECT id_a, id_b FROM mh INTERSECT SELECT id_a, id_b FROM tr),
c AS (SELECT (SELECT COUNT(*) FROM mh) AS n_candidates,
             (SELECT COUNT(*) FROM tr) AS n_truth,
             (SELECT COUNT(*) FROM hit) AS n_hit)
SELECT n_candidates, n_truth, n_hit,
       CASE WHEN n_candidates > 0
            THEN CAST(n_hit AS DOUBLE) / CAST(n_candidates AS DOUBLE)
       END AS precision_at_02,
       CASE WHEN n_truth > 0
            THEN CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE)
       END AS recall_at_02
FROM c
"""

ORACLE["customer_spend_gini"] = """
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey),
ranked AS (
  SELECT o_custkey, cents,
         ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS rn
  FROM spend),
tot AS (
  SELECT COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS t,
         CAST(SUM(rn * cents) AS BIGINT) AS s_rank
  FROM ranked),
dec AS (
  SELECT CAST(1 + ((rn - 1) * 10) // n AS BIGINT) AS decile,
         COUNT(*) AS n_customers,
         CAST(SUM(cents) AS BIGINT) AS decile_cents,
         MAX(t) AS t, MAX(n) AS n, MAX(s_rank) AS s_rank
  FROM ranked, tot
  GROUP BY CAST(1 + ((rn - 1) * 10) // n AS BIGINT))
SELECT decile, n_customers,
       CAST(decile_cents AS DOUBLE) / 100.0 AS decile_spend,
       CAST(CAST(SUM(decile_cents) OVER (ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS DOUBLE) / CAST(t AS DOUBLE) AS cum_share,
       CAST(2 * s_rank - (n + 1) * t AS DOUBLE)
         / CAST(n * t AS DOUBLE) AS gini
FROM dec ORDER BY decile
"""

ORACLE["weighted_doc_sample"] = """
WITH u AS (
  SELECT doc_id, lang, n_chars,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#wsample42'),
                              1, 15)) AS BIGINT) % 1000000 + 1 AS uu
  FROM documents WHERE n_chars > 0),
p AS (
  SELECT doc_id, lang, n_chars,
         CAST(FLOOR(LN(1000000.0 / CAST(uu AS DOUBLE)) * 1000000.0) AS BIGINT)
           AS neg_ln_u
  FROM u)
SELECT doc_id, lang, n_chars,
       CAST(neg_ln_u AS DOUBLE) / CAST(n_chars AS DOUBLE) AS priority
FROM p ORDER BY priority, doc_id LIMIT 200
"""


def _bpe_train_sql(n_merges: int) -> str:
    """Unrolled BPE training — the SQL twin of operators/bpe.bpe_train:
    each round is the full (pair-count → argmax → literal replace)
    recurrence on the double-space segment representation, so the merge
    table of an ITERATIVE tokenizer training hash-matches bit for bit.
    It recounts every pair each round where the Spark trainer updates
    its counts incrementally in one task, an independent path to the
    same table; the argmax CTE breaks ties on the pair itself, in the
    same (count desc, a, b) order."""
    ctes = [
        r"""words AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
  FROM documents)""",
        """wf AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM words GROUP BY w HAVING LENGTH(w) >= 2)""",
        r"""seg0 AS (
  SELECT '  ' || regexp_replace(w, '(.)', '\1  ', 'g') AS seg, freq
  FROM wf)""",
    ]
    for k in range(1, n_merges + 1):
        ctes.append(
            f"""p{k} AS (
  SELECT s, freq, UNNEST(range(1, len(s))) AS i
  FROM (SELECT string_split(trim(seg), '  ') AS s, freq FROM seg{k - 1})),
best{k} AS MATERIALIZED (
  SELECT a, b, CAST(SUM(freq) AS BIGINT) AS pair_count
  FROM (SELECT s[i] AS a, s[i + 1] AS b, freq FROM p{k})
  GROUP BY a, b ORDER BY pair_count DESC, a, b LIMIT 1),
seg{k} AS MATERIALIZED (
  SELECT replace(seg, ' ' || a || '  ' || b || ' ',
                 ' ' || a || b || ' ') AS seg, freq
  FROM seg{k - 1}, best{k})"""
        )
    union = "\nUNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS step, a, b, a || b AS merged, pair_count FROM best{k}"
        for k in range(1, n_merges + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT * FROM (\n{union}\n) ORDER BY step"
    )


def _bpe_vocab_sql(n_merges: int) -> str:
    """Train-and-encode twin (L49b): the same unrolled recurrence,
    then the symbol rollup over the FINAL segment state."""
    base = _bpe_train_sql(n_merges)
    ctes = base.split("\nSELECT * FROM (")[0]
    return (
        ctes
        + f""",
sym AS (
  SELECT unnest(string_split(trim(seg), '  ')) AS symbol, freq
  FROM seg{n_merges})
SELECT symbol, CAST(SUM(freq) AS BIGINT) AS total_freq,
       CAST(COUNT(*) AS BIGINT) AS n_vocab_occurrences
FROM sym GROUP BY symbol
ORDER BY total_freq DESC, symbol LIMIT 30"""
    )


ORACLE["bpe_train_merges"] = _bpe_train_sql(6)
ORACLE["bpe_vocab_counts"] = _bpe_vocab_sql(6)

_KNN_VEC0_SQL = (
    ORACLE["knn_bruteforce"]
    .replace("WHERE vec_id < 10", "WHERE vec_id = 0")
    .replace('WHERE "rank" <= 5', 'WHERE "rank" <= 20')
)

ORACLE["hybrid_search_rrf"] = f"""
WITH b0 AS ({ORACLE["bm25_search"]}),
b AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
           AS text_rank
  FROM b0),
v0 AS ({_KNN_VEC0_SQL}),
v AS (SELECT neighbor_id AS doc_id, CAST("rank" AS BIGINT) AS vec_rank FROM v0),
f AS (
  SELECT COALESCE(b.doc_id, v.doc_id) AS doc_id,
         CAST(COALESCE(text_rank, 0) AS BIGINT) AS text_rank,
         CAST(COALESCE(vec_rank, 0) AS BIGINT) AS vec_rank
  FROM b FULL OUTER JOIN v ON b.doc_id = v.doc_id)
SELECT doc_id, text_rank, vec_rank,
       CAST(CASE WHEN text_rank > 0
                 THEN 1000000000000 // (60 + text_rank) ELSE 0 END
          + CASE WHEN vec_rank > 0
                 THEN 1000000000000 // (60 + vec_rank) ELSE 0 END
            AS BIGINT) AS rrf_fixed
FROM f ORDER BY rrf_fixed DESC, doc_id
"""

ORACLE["item_item_cosine"] = """
WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
deg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n_ord FROM lp GROUP BY p),
pairs AS (
  SELECT a.p AS i, b.p AS j, CAST(COUNT(*) AS BIGINT) AS n_both
  FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p
  GROUP BY a.p, b.p)
SELECT i, j, n_both, di.n_ord AS n_i, dj.n_ord AS n_j,
       CAST(n_both AS DOUBLE)
         / sqrt(CAST(di.n_ord * dj.n_ord AS DOUBLE)) AS cosine
FROM pairs
JOIN deg di ON di.p = i
JOIN deg dj ON dj.p = j
ORDER BY cosine DESC, i, j LIMIT 30
"""

ORACLE["customer_rfm"] = """
WITH h AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS h FROM orders),
per AS (
  SELECT o_custkey,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
           AS cents,
         CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)), MAX(h.h))
              AS BIGINT) AS recency_days
  FROM orders, h GROUP BY o_custkey),
r AS (
  SELECT cents,
         ROW_NUMBER() OVER (ORDER BY recency_days, o_custkey) AS rr,
         ROW_NUMBER() OVER (ORDER BY n_orders, o_custkey) AS rf,
         ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS rm,
         COUNT(*) OVER () AS n_total
  FROM per)
SELECT CAST(1 + ((rr - 1) * 4) // n_total AS BIGINT) AS r_q,
       CAST(1 + ((rf - 1) * 4) // n_total AS BIGINT) AS f_q,
       CAST(1 + ((rm - 1) * 4) // n_total AS BIGINT) AS m_q,
       COUNT(*) AS n_customers,
       CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE) / 100.0 AS total_spend
FROM r
GROUP BY 1, 2, 3 ORDER BY r_q, f_q, m_q
"""

ORACLE["top_session_paths"] = """
WITH x AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR date_diff('microsecond', LAG(ts) OVER w, ts) > 1800000000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM x),
p AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM s GROUP BY user_id, session_id)
SELECT path, COUNT(*) AS n_sessions
FROM p GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20
"""

ORACLE["table_profile"] = """
WITH base AS (
  SELECT lpad(CAST(o_orderkey AS VARCHAR), 18, '0') AS v_ok,
         lpad(CAST(o_custkey AS VARCHAR), 18, '0') AS v_ck,
         o_orderstatus AS v_st,
         o_orderpriority AS v_pr,
         lpad(CAST(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS VARCHAR),
              18, '0') AS v_tp,
         CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS v_od
  FROM orders),
st AS (
  SELECT 'o_orderkey' AS col_name, v_ok AS val FROM base
  UNION ALL SELECT 'o_custkey', v_ck FROM base
  UNION ALL SELECT 'o_orderstatus', v_st FROM base
  UNION ALL SELECT 'o_orderpriority', v_pr FROM base
  UNION ALL SELECT 'o_totalprice_cents', v_tp FROM base
  UNION ALL SELECT 'o_orderdate', v_od FROM base)
SELECT col_name,
       COUNT(*) AS n_rows,
       COUNT(*) - COUNT(val) AS n_nulls,
       CAST(COUNT(DISTINCT val) AS BIGINT) AS n_distinct,
       MIN(val) AS min_val,
       MAX(val) AS max_val
FROM st GROUP BY col_name ORDER BY col_name
"""

ORACLE["daily_lag_corr"] = """
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY 1),
l AS (SELECT unnest(range(0, 8)) AS lag_days),
j AS (
  SELECT l.lag_days, a.x, b.y
  FROM daily a
  CROSS JOIN l
  JOIN daily b ON b.day_num = a.day_num + l.lag_days),
agg AS (
  SELECT lag_days,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM j GROUP BY lag_days)
SELECT CAST(lag_days AS BIGINT) AS lag_days, n_days,
       CASE WHEN CAST(n_days * sxx - sx * sx AS DOUBLE) > 0
             AND CAST(n_days * syy - sy * sy AS DOUBLE) > 0
            THEN CAST(n_days * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE)
                        * CAST(n_days * syy - sy * sy AS DOUBLE))
       END AS corr_lag
FROM agg ORDER BY lag_days
"""

ORACLE["customer_survival_km"] = """
WITH h AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS h FROM orders),
per AS (
  SELECT CAST(date_diff('day', MIN(CAST(o_orderdate AS DATE)),
                        MAX(CAST(o_orderdate AS DATE))) AS BIGINT) AS t_days,
         CASE WHEN date_diff('day', MAX(CAST(o_orderdate AS DATE)), MAX(h.h))
                   > 90 THEN 1 ELSE 0 END AS is_event
  FROM orders, h GROUP BY o_custkey),
byd AS (
  SELECT t_days, CAST(COUNT(*) AS BIGINT) AS n_all,
         CAST(SUM(is_event) AS BIGINT) AS n_events
  FROM per GROUP BY t_days),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM per),
risk AS (
  SELECT t_days, n_events,
         CAST(n_total - COALESCE(SUM(n_all) OVER (ORDER BY t_days
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS n_at_risk
  FROM byd, tot),
ev AS (
  SELECT t_days, n_at_risk, n_events,
         CAST(FLOOR(LN(CAST(n_at_risk - n_events AS DOUBLE)
                       / CAST(n_at_risk AS DOUBLE)) * -1000000.0)
              AS BIGINT) AS hazard_fixed
  FROM risk WHERE n_events > 0 AND n_at_risk > n_events),
cum AS (
  SELECT t_days, n_at_risk, n_events, hazard_fixed,
         CAST(SUM(hazard_fixed) OVER (ORDER BY t_days
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS neg_ln_s_fixed
  FROM ev)
SELECT t_days, n_at_risk, n_events, hazard_fixed, neg_ln_s_fixed,
       CAST(FLOOR(1000000.0
                  * EXP(-(CAST(neg_ln_s_fixed AS DOUBLE) / 1000000.0)))
            AS BIGINT) AS survival_ppm
FROM cum ORDER BY t_days
"""

_TRI_CTES = """lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
deg AS (
  SELECT p, COUNT(*) AS deg
  FROM (SELECT u AS p FROM e UNION ALL SELECT v AS p FROM e)
  GROUP BY p),
d AS (
  SELECT CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v END AS src,
         CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u END AS dst,
         CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN dv.deg ELSE du.deg END AS ddst
  FROM e
  JOIN deg du ON du.p = e.u
  JOIN deg dv ON dv.p = e.v),
tri AS (
  SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
  FROM d w1
  JOIN d w2 ON w1.src = w2.src AND (w1.ddst, w1.dst) < (w2.ddst, w2.dst)
  JOIN d e3 ON e3.src = w1.dst AND e3.dst = w2.dst),
corners AS (
  SELECT a AS p FROM tri
  UNION ALL SELECT b AS p FROM tri
  UNION ALL SELECT c AS p FROM tri)"""

ORACLE["copurchase_clustering"] = f"""
WITH {_TRI_CTES},
tc AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n_triangles
       FROM corners GROUP BY p)
SELECT deg.p AS p_partkey,
       CAST(deg.deg AS BIGINT) AS degree,
       CAST(COALESCE(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
       CAST(COALESCE(tc.n_triangles, 0) * 2 AS DOUBLE)
         / CAST(deg.deg * (deg.deg - 1) AS DOUBLE) AS clustering_coeff
FROM deg LEFT JOIN tc ON tc.p = deg.p
WHERE deg.deg >= 2
ORDER BY clustering_coeff DESC, p_partkey LIMIT 20
"""


def _bfs_sql(n_rounds: int) -> str:
    """Unrolled BFS min-relaxation over the co-purchase graph — the
    SQL twin of operators/graph.bfs_distances (frontier-only
    relaxation computes the same distances as the naive recurrence on
    a unit-weight graph)."""
    ctes = [
        """lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)""",
        """e0 AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)""",
        """e AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM e0
  UNION ALL SELECT v AS src, u AS dst FROM e0)""",
        """d0 AS (SELECT MIN(src) AS id, CAST(0 AS BIGINT) AS dist FROM e)""",
    ]
    for k in range(1, n_rounds + 1):
        ctes.append(
            f"""d{k} AS MATERIALIZED (
  SELECT id, CAST(MIN(dist) AS BIGINT) AS dist
  FROM (
    SELECT id, dist FROM d{k - 1}
    UNION ALL
    SELECT e.dst AS id, d.dist + 1 AS dist
    FROM e JOIN d{k - 1} d ON d.id = e.src)
  GROUP BY id)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_parts
FROM d{n_rounds} GROUP BY dist ORDER BY dist"""
    )


ORACLE["copurchase_bfs_hops"] = _bfs_sql(6)

ORACLE["segment_priority_chi2"] = """
WITH obs AS (
  SELECT c_mktsegment, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, o_orderpriority),
cells AS (
  SELECT c_mktsegment, o_orderpriority, n_obs,
         CAST(SUM(n_obs) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS rt,
         CAST(SUM(n_obs) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS ct,
         CAST(SUM(n_obs) OVER () AS BIGINT) AS n
  FROM obs)
SELECT c_mktsegment, o_orderpriority, n_obs,
       CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE) AS expected,
       (CAST(n_obs * n - rt * ct AS DOUBLE)
        * CAST(n_obs * n - rt * ct AS DOUBLE))
         / (CAST(rt * ct AS DOUBLE) * CAST(n AS DOUBLE)) AS chi2_contrib
FROM cells ORDER BY c_mktsegment, o_orderpriority
"""

ORACLE["dow_adjusted_anomalies"] = """
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1),
d2 AS (SELECT *, CAST(day_num % 7 AS BIGINT) AS dow FROM daily),
base AS (
  SELECT day_num, dow, n_events,
         CAST(COALESCE(COUNT(*) OVER w, 0) AS BIGINT) AS n_prior,
         CAST(COALESCE(SUM(n_events) OVER w, 0) AS BIGINT) AS sum_prior
  FROM d2
  WINDOW w AS (PARTITION BY dow ORDER BY day_num
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
SELECT CAST(day_num AS BIGINT) AS day_num, dow, n_events, n_prior,
       CAST(sum_prior AS DOUBLE) / CAST(n_prior AS DOUBLE) AS expected,
       CAST(n_events * n_prior AS DOUBLE) / CAST(sum_prior AS DOUBLE) AS ratio,
       (2 * n_events * n_prior > 3 * sum_prior
        OR 3 * n_events * n_prior < 2 * sum_prior) AS is_anomaly
FROM base WHERE n_prior >= 2 ORDER BY day_num
"""

ORACLE["dayk_retention"] = """
WITH acts AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num
  FROM events),
firsts AS (SELECT user_id, MIN(day_num) AS d0 FROM acts GROUP BY user_id),
maxd AS (SELECT MAX(day_num) AS max_day FROM acts),
ks AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES (1), (7), (14)) t(k)),
eligible AS (
  SELECT f.user_id, f.d0, ks.k
  FROM firsts f CROSS JOIN ks CROSS JOIN maxd
  WHERE f.d0 + ks.k <= maxd.max_day),
j AS (
  SELECT e.k, a.user_id AS u2
  FROM eligible e
  LEFT JOIN acts a
    ON a.user_id = e.user_id AND a.day_num = e.d0 + e.k)
SELECT k, CAST(COUNT(*) AS BIGINT) AS n_eligible,
       CAST(COUNT(u2) AS BIGINT) AS n_retained,
       CAST(COUNT(u2) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS retention_rate
FROM j GROUP BY k ORDER BY k
"""

ORACLE["join_key_profile"] = """
WITH fk AS (
  SELECT o_custkey AS key, CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM orders GROUP BY o_custkey),
dk AS (SELECT c_custkey AS key, 1 AS in_dim FROM customer),
j AS (
  SELECT COALESCE(fk.key, dk.key) AS key, fk.n_rows, dk.in_dim
  FROM fk FULL OUTER JOIN dk ON fk.key = dk.key)
SELECT CAST(SUM(n_rows) AS BIGINT) AS n_fact_rows,
       CAST(COUNT(n_rows) AS BIGINT) AS n_fact_keys,
       CAST(SUM(CASE WHEN in_dim IS NULL THEN n_rows ELSE 0 END) AS BIGINT)
         AS n_orphan_fact_rows,
       CAST(COUNT(in_dim) AS BIGINT) AS n_dim_keys,
       CAST(SUM(CASE WHEN in_dim IS NOT NULL AND n_rows IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dim_unreferenced,
       CAST(MAX(CASE WHEN in_dim IS NOT NULL THEN n_rows END) AS BIGINT)
         AS max_fanout,
       CAST(CAST(SUM(n_rows) AS BIGINT) AS DOUBLE)
         / CAST(CAST(COUNT(in_dim) AS BIGINT) AS DOUBLE) AS avg_fanout
FROM j
"""

ORACLE["funnel_time_to_convert"] = """
WITH t0 AS (
  SELECT user_id, MIN(ts) AS t0
  FROM events WHERE event_type = 'signup' GROUP BY user_id),
conv AS (
  SELECT t0.user_id,
         CAST(date_diff('microsecond', t0.t0, MIN(e.ts)) // 1000000
              AS BIGINT) AS delay_s
  FROM t0
  JOIN events e ON e.user_id = t0.user_id
    AND e.event_type = 'purchase' AND e.ts >= t0.t0
  GROUP BY t0.user_id, t0.t0),
ranked AS (
  SELECT delay_s,
         ROW_NUMBER() OVER (ORDER BY delay_s, user_id) AS rn,
         COUNT(*) OVER () AS n
  FROM conv)
SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
       MIN(delay_s) AS min_delay_s,
       MAX(CASE WHEN rn = CAST(CEIL(0.25 * n) AS BIGINT) THEN delay_s END)
         AS p25_s,
       MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT) THEN delay_s END)
         AS p50_s,
       MAX(CASE WHEN rn = CAST(CEIL(0.75 * n) AS BIGINT) THEN delay_s END)
         AS p75_s,
       MAX(CASE WHEN rn = CAST(CEIL(0.9 * n) AS BIGINT) THEN delay_s END)
         AS p90_s,
       MAX(delay_s) AS max_delay_s
FROM ranked
"""

ORACLE["embedding_label_centroids"] = """
WITH cells AS (
  SELECT CAST(label AS BIGINT) AS label,
         CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
         CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000.0)
              AS BIGINT) AS xq
  FROM embeddings)
SELECT label, dim,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(xq) AS BIGINT) AS sum_fixed,
       CAST(CAST(SUM(xq) AS BIGINT) AS DOUBLE)
         / CAST(COUNT(*) * 1000000 AS DOUBLE) AS mean_val
FROM cells GROUP BY label, dim ORDER BY label, dim
"""

# R63: identical SQL text runs on BOTH engines (queries.py executes this
# same string via spark.sql) — the WITH RECURSIVE surface, dialect-free.
ORACLE["event_type_reachability"] = """
WITH RECURSIVE
steps AS (
  SELECT user_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS from_type,
         event_type AS to_type
  FROM events),
g AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM steps WHERE from_type IS NOT NULL AND from_type <> to_type
  GROUP BY from_type, to_type),
tot AS (SELECT COUNT(*) AS t FROM steps WHERE from_type IS NOT NULL),
e AS (SELECT from_type, to_type FROM g, tot WHERE n * 50 > t),
r AS (
  SELECT 'signup' AS node, 0 AS hops
  UNION ALL
  SELECT e.to_type AS node, r.hops + 1 AS hops
  FROM r JOIN e ON e.from_type = r.node
  WHERE r.hops < 4)
SELECT node, CAST(MIN(hops) AS BIGINT) AS min_hops,
       CAST(COUNT(*) AS BIGINT) AS n_walks
FROM r GROUP BY node ORDER BY node
"""


# R64: two-sample KS test. The ECDF gap stays integer via
# cross-multiplication (HUGEINT here, decimal(38,0) on the Spark
# side — both exact), and only the final division is IEEE. The argmax
# row is selected on the exact integer, tie-broken on value.
ORACLE["order_value_ks_test"] = """
WITH per AS (
  SELECT o_totalprice AS value,
         SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                  THEN 1 ELSE 0 END) AS a_cnt,
         SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                  THEN 0 ELSE 1 END) AS b_cnt
  FROM orders GROUP BY o_totalprice),
c AS (
  SELECT value,
         SUM(a_cnt) OVER (ORDER BY value) AS ca,
         SUM(b_cnt) OVER (ORDER BY value) AS cb,
         SUM(a_cnt) OVER () AS na,
         SUM(b_cnt) OVER () AS nb
  FROM per)
SELECT value, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CASE WHEN na > 0 AND nb > 0
            THEN CAST(ABS(CAST(ca AS HUGEINT) * nb
                          - CAST(cb AS HUGEINT) * na) AS DOUBLE)
                 / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
       END AS ks_stat
FROM c
ORDER BY ABS(CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na) DESC,
         value
LIMIT 1
"""


# R65: Mann-Whitney U with exact integer midranks
# (2*midrank = 2*cum_before + cnt + 1) and tie correction; the
# mu/var/z chain mirrors the Spark expressions op for op.
ORACLE["order_value_mannwhitney"] = """
WITH per AS (
  SELECT o_totalprice AS v,
         SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                  THEN 1 ELSE 0 END) AS a_cnt,
         SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                  THEN 0 ELSE 1 END) AS b_cnt
  FROM orders GROUP BY v),
c AS (
  SELECT v, a_cnt, b_cnt,
         SUM(a_cnt + b_cnt) OVER (ORDER BY v) AS cum_t
  FROM per),
s AS (
  SELECT CAST(SUM(a_cnt) AS BIGINT) AS n_a,
         CAST(SUM(b_cnt) AS BIGINT) AS n_b,
         SUM(CAST(a_cnt AS HUGEINT)
             * (2 * (cum_t - (a_cnt + b_cnt)) + (a_cnt + b_cnt) + 1))
           AS two_r_a,
         SUM(CAST(a_cnt + b_cnt AS HUGEINT) * (a_cnt + b_cnt)
               * (a_cnt + b_cnt)
             - (a_cnt + b_cnt)) AS s_ties
  FROM c),
u AS (
  SELECT n_a, n_b, two_r_a, s_ties,
         CAST(two_r_a AS DOUBLE) / 2.0
           - (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0)) / 2.0
           AS u_a
  FROM s)
SELECT n_a, n_b, u_a,
       CASE WHEN n_a > 0 AND n_b > 0 AND n_a + n_b > 1
            THEN (u_a - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
                 / SQRT(
                     (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0)
                     * ((CAST(n_a + n_b AS DOUBLE) + 1.0)
                        - CAST(s_ties AS DOUBLE)
                          / (CAST(n_a + n_b AS DOUBLE)
                             * (CAST(n_a + n_b AS DOUBLE) - 1.0)))
                   )
       END AS z_score
FROM u
"""


# R66: running distinct buyers via first-touch additivity.
ORACLE["cumulative_distinct_buyers"] = """
WITH fb AS (
  SELECT o_custkey, MIN(o_orderdate) AS first_day
  FROM orders GROUP BY o_custkey),
per AS (
  SELECT first_day, COUNT(*) AS new_buyers FROM fb GROUP BY first_day)
SELECT first_day, CAST(new_buyers AS BIGINT) AS new_buyers,
       CAST(SUM(new_buyers) OVER (ORDER BY first_day) AS BIGINT)
         AS cum_buyers
FROM per ORDER BY first_day
"""


# P53: Benford first-digit audit. b_ppm quantization and the
# chi-square chain mirror the Spark expressions op for op; the first
# digit is numeric (no string formatting).
ORACLE["order_value_benford"] = """
WITH per AS (
  SELECT CAST(FLOOR(CAST(o_totalprice AS DOUBLE)
              / POWER(10.0, FLOOR(LOG10(CAST(o_totalprice AS DOUBLE)))))
         AS BIGINT) AS digit,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1),
t AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS n_total FROM per),
j AS (
  SELECT digit, CAST(n_orders AS BIGINT) AS n_orders, n_total,
         CAST(FLOOR(LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 1000000.0)
              AS BIGINT) AS b_ppm
  FROM per, t)
SELECT digit, n_orders,
       CAST(n_orders AS DOUBLE) / CAST(n_total AS DOUBLE) AS obs_share,
       b_ppm AS benford_ppm,
       (CAST(n_orders * 1000000 - n_total * b_ppm AS DOUBLE)
        * CAST(n_orders * 1000000 - n_total * b_ppm AS DOUBLE))
         / (CAST(n_total * b_ppm AS DOUBLE) * 1000000.0) AS chi2_term
FROM j ORDER BY digit
"""


# L12d: audio chunking twin — 5 ms chunks at 16kHz/16-bit = 160 bytes;
# offsets/coverage mirror the Python kernel's integer arithmetic and
# the rms signature is the same byte sum the fake decoder computes.
ORACLE["multimodal_audio_chunks"] = """
WITH base AS (
  SELECT doc_id, text, length(text) AS n FROM documents),
ch AS (
  SELECT doc_id, text, n,
         UNNEST(range(0, CAST(CEIL(n / 160.0) AS BIGINT))) AS chunk_idx
  FROM base WHERE n > 0),
s AS (
  SELECT doc_id, chunk_idx, chunk_idx * 160 AS lo,
         LEAST(n, chunk_idx * 160 + 160) AS hi, text
  FROM ch)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(FLOOR(lo / 32.0) AS BIGINT) AS start_ms,
       CAST(FLOOR(hi / 32.0) AS BIGINT) AS end_ms,
       CAST(hi - lo AS BIGINT) AS chunk_bytes,
       CAST(COALESCE(list_aggregate(
           list_transform(range(lo, hi),
                          j -> ord(substring(text, CAST(j + 1 AS INT), 1))),
           'sum'), 0) AS BIGINT) AS rms_sig
FROM s
"""


# L4c: prefix filtering is candidate PRUNING only — lossless for
# J >= t — so the oracle is the plain full-intersection join at the
# same threshold (same CTE body as L4 with t = 0.5).
ORACLE["jaccard_prefix_join"] = r"""
WITH
toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
sh_all AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3),
sh AS (
  SELECT doc_id, shingle FROM sh_all
  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 50),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, n_common,
       CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
"""


# R67: Spearman + Kendall over the daily series. Midranks stay doubled
# (2r = 2*(rank-1) + ties + 1 — same identity as the MWU oracle), all
# moments/counts are exact integers, and each statistic's IEEE chain
# mirrors the Spark expression op for op.
ORACLE["daily_rank_corr"] = """
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
  FROM events GROUP BY 1),
ranked AS (
  SELECT x, y,
         2 * (RANK() OVER (ORDER BY x) - 1)
           + COUNT(*) OVER (PARTITION BY x) + 1 AS ra,
         2 * (RANK() OVER (ORDER BY y) - 1)
           + COUNT(*) OVER (PARTITION BY y) + 1 AS rb
  FROM daily),
sp AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(ra) AS BIGINT) AS sa, CAST(SUM(rb) AS BIGINT) AS sb,
         CAST(SUM(ra * ra) AS BIGINT) AS saa,
         CAST(SUM(rb * rb) AS BIGINT) AS sbb,
         CAST(SUM(ra * rb) AS BIGINT) AS sab
  FROM ranked),
kt AS (
  SELECT CAST(SUM(CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS nc,
         CAST(SUM(CASE WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS nd,
         CAST(SUM(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT) AS tx,
         CAST(SUM(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT) AS ty
  FROM daily a JOIN daily b ON a.day_num < b.day_num)
SELECT n_days, nc AS concordant, nd AS discordant,
       CASE WHEN SQRT(CAST(n_days AS DOUBLE) * CAST(saa AS DOUBLE)
                      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                 * SQRT(CAST(n_days AS DOUBLE) * CAST(sbb AS DOUBLE)
                        - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) <> 0.0
            THEN (CAST(n_days AS DOUBLE) * CAST(sab AS DOUBLE)
                  - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                 / (SQRT(CAST(n_days AS DOUBLE) * CAST(saa AS DOUBLE)
                         - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                    * SQRT(CAST(n_days AS DOUBLE) * CAST(sbb AS DOUBLE)
                           - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))
       END AS spearman_rho,
       CASE WHEN SQRT((CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0) / 2.0
                       - CAST(tx AS DOUBLE))
                      * (CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0) / 2.0
                         - CAST(ty AS DOUBLE))) <> 0.0
            THEN CAST(nc - nd AS DOUBLE)
                 / SQRT((CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0) / 2.0
                         - CAST(tx AS DOUBLE))
                        * (CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0) / 2.0
                           - CAST(ty AS DOUBLE)))
       END AS kendall_tau
FROM sp, kt
"""


# P55: entity consolidation — the P26c pair SQL feeding a recursive
# min-label closure (same pattern as the near-dup components oracle).
ORACLE["customer_entity_resolution"] = """
WITH RECURSIVE ranked AS (
  SELECT c_custkey, c_name,
         ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS rn
  FROM customer),
pairs AS (
  SELECT a.c_custkey AS ca, b.c_custkey AS cb
  FROM ranked a JOIN ranked b
    ON b.rn > a.rn AND b.rn <= a.rn + 3
  WHERE levenshtein(a.c_name, b.c_name) <= 2),
edges AS (
  SELECT ca AS a, cb AS b FROM pairs
  UNION ALL
  SELECT cb, ca FROM pairs),
reach(id, label) AS (
  SELECT c_custkey, c_custkey FROM customer
  UNION
  SELECT e.a, r.label FROM edges e JOIN reach r ON r.id = e.b),
comp AS (SELECT id, MIN(label) AS entity_id FROM reach GROUP BY id)
SELECT id AS c_custkey, entity_id,
       CAST(COUNT(*) OVER (PARTITION BY entity_id) AS BIGINT) AS n_records
FROM comp
QUALIFY COUNT(*) OVER (PARTITION BY entity_id) > 1
ORDER BY entity_id, c_custkey
"""


# R68: exact weighted quantiles via cumulative weights on the value
# grain; selection is the integer comparison cum_w*100 >= pct*tw.
ORACLE["weighted_price_quantiles"] = """
WITH per AS (
  SELECT l_extendedprice AS value,
         SUM(CAST(l_quantity AS BIGINT)) AS w
  FROM lineitem GROUP BY 1),
c AS (
  SELECT value, SUM(w) OVER (ORDER BY value) AS cw, SUM(w) OVER () AS tw
  FROM per),
q AS (SELECT UNNEST([25, 50, 75, 90]) AS pct)
SELECT CAST(pct AS BIGINT) AS pct, MIN(value) AS value,
       CAST(MAX(tw) AS BIGINT) AS total_weight
FROM c, q
WHERE cw * 100 >= pct * tw
GROUP BY pct ORDER BY pct
"""


# L17c: Count-Min Sketch — the hash chain is the portable md5 idiom
# (operators/sketches.py:_cms_row_buckets), so the ENTIRE sketch
# (cell build, probe, min-over-rows estimate) replays in SQL: this
# oracle re-derives the same depth=4 x width=2048 cells and must match
# the Spark estimates bitwise.
ORACLE["cms_term_counts"] = """
WITH terms AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents),
d AS (SELECT unnest([0, 1, 2, 3]) AS row_id),
hashed AS (
  SELECT term, row_id,
         CAST(('0x' || substr(md5(CAST(7 + row_id AS VARCHAR) || ':' || term), 1, 15)) AS BIGINT) % 2048 AS bucket
  FROM terms CROSS JOIN d),
cells AS (
  SELECT row_id, bucket, COUNT(*) AS cnt
  FROM hashed GROUP BY row_id, bucket),
exact AS (
  SELECT term, COUNT(*) AS true_count FROM terms GROUP BY term),
top AS (
  SELECT term, true_count FROM exact
  ORDER BY true_count DESC, term LIMIT 20),
tp AS (
  SELECT t.term, d.row_id,
         CAST(('0x' || substr(md5(CAST(7 + d.row_id AS VARCHAR) || ':' || t.term), 1, 15)) AS BIGINT) % 2048 AS bucket
  FROM top t CROSS JOIN d),
est AS (
  SELECT tp.term, CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est_count
  FROM tp LEFT JOIN cells c USING (row_id, bucket)
  GROUP BY tp.term)
SELECT t.term, CAST(t.true_count AS BIGINT) AS true_count, e.est_count
FROM top t JOIN est e USING (term)
ORDER BY true_count DESC, term
"""


# L7g: IVF-Flat with FIXED literal centroids (similarity.knn_ivf_flat)
# — the centroid dot chains interpolate as literals (same left fold,
# 1-based indexing here), so assignment, probe, and exact rerank all
# replay bitwise.
def _ivf_flat_sql(nlist: int = 8, nprobe: int = 2, k: int = 5, dim: int = 64, seed: int = 23) -> str:
    from dimagi_data_platform_spark.operators.similarity import _planes

    cents = _planes(dim, nlist, seed)
    dcols = ",\n         ".join(
        "(0.0 + "
        + " + ".join(
            f"CAST(embedding[{j + 1}] AS DOUBLE) * ({p!r})"
            for j, p in enumerate(plane)
        )
        + f") AS d{i}"
        for i, plane in enumerate(cents)
    )
    argmax = "CASE " + " ".join(
        "WHEN "
        + " AND ".join(f"d{i} >= d{j}" for j in range(nlist) if j != i)
        + f" THEN {i}"
        for i in range(nlist - 1)
    ) + f" ELSE {nlist - 1} END"
    cd_case = "CASE i " + " ".join(
        f"WHEN {i} THEN d{i}" for i in range(nlist)
    ) + " END"
    ilist = ", ".join(str(i) for i in range(nlist))
    return f"""
WITH base AS (
  SELECT vec_id, embedding,
         {dcols},
         {_vdot('embedding', 'embedding')} AS nrm2
  FROM embeddings),
c AS (
  SELECT vec_id AS neighbor_id, embedding AS c_vec, sqrt(nrm2) AS c_norm,
         {argmax} AS list_id
  FROM base),
qd AS (SELECT * FROM base WHERE vec_id < 10),
qs AS (
  SELECT vec_id AS q_id, embedding AS q_vec, sqrt(nrm2) AS q_norm,
         i AS list_id, {cd_case} AS cd
  FROM qd CROSS JOIN (SELECT unnest([{ilist}]) AS i)),
probes AS (
  SELECT q_id, q_vec, q_norm, list_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cd DESC, list_id) AS pr FROM qs)
  WHERE pr <= {nprobe}),
scored AS (
  SELECT q_id, neighbor_id,
         {_vdot('q_vec', 'c_vec')} / (q_norm * c_norm) AS cos_sim
  FROM probes JOIN c USING (list_id)
  WHERE q_id <> neighbor_id),
r AS (
  SELECT q_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS "rank"
  FROM scored)
SELECT q_id, neighbor_id, cos_sim, "rank" FROM r WHERE "rank" <= {k}
"""


ORACLE["knn_ivf_flat"] = _ivf_flat_sql()


# L53: exact substring dedup (Lee et al. 2022) — k=8 token grams,
# first-occurrence-wins over md5 gram keys, packed integer argmin.
ORACLE["substring_dedup_clean"] = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents),
g AS (
  SELECT doc_id, u.i AS pos,
         md5(array_to_string(toks[u.i:u.i+7], ' ')) AS gk
  FROM t, UNNEST(range(1, len(toks) - 8 + 2)) AS u(i)),
f AS (SELECT gk, MIN(doc_id * 1048576 + pos) AS first_pk FROM g GROUP BY gk),
dup AS (
  SELECT g.doc_id, g.pos FROM g JOIN f USING (gk)
  WHERE g.doc_id * 1048576 + g.pos <> f.first_pk),
cov AS (
  SELECT DISTINCT doc_id, u.cp AS pos
  FROM dup, UNNEST(range(pos, pos + 8)) AS u(cp)),
ts AS (
  SELECT doc_id, u.i AS pos, toks[u.i] AS tok
  FROM t, UNNEST(range(1, len(toks) + 1)) AS u(i)),
kept AS (SELECT ts.* FROM ts ANTI JOIN cov USING (doc_id, pos)),
cl AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id)
SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(toks) - COALESCE(n_kept, 0) AS BIGINT) AS n_removed,
       md5(COALESCE(clean_text, '')) AS clean_hash
FROM t LEFT JOIN cl USING (doc_id)
ORDER BY doc_id
"""


# P59: CUSUM change-point — integer cross-multiplied deviation, one
# closing IEEE division chain (queries.daily_value_cusum).
ORACLE["daily_value_cusum"] = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day,
         SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) AS vq
  FROM events GROUP BY 1),
cum AS (
  SELECT day,
         CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t,
         CAST(SUM(vq) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s_t
  FROM daily),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days, CAST(SUM(vq) AS BIGINT) AS s_n FROM daily),
dev AS (
  SELECT day, t, s_t, ABS(n_days * s_t - t * s_n) AS dev_x, n_days
  FROM cum CROSS JOIN tot),
top AS (SELECT * FROM dev ORDER BY dev_x DESC, day LIMIT 5)
SELECT day, t,
       CAST(s_t AS DOUBLE) / 100.0 AS cum_value,
       CAST(dev_x AS DOUBLE) / (CAST(n_days AS DOUBLE) * 100.0) AS cusum_dev
FROM top
ORDER BY cusum_dev DESC, day
"""

# R69: STL-lite seasonal decomposition — integer detrended series
# 7*vq - sum7, per-weekday means, mirrored IEEE division chains.
ORACLE["daily_seasonal_decompose"] = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day,
         SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) AS vq
  FROM events GROUP BY 1),
w7 AS (
  SELECT day, vq,
         COUNT(*) OVER win AS n7,
         CAST(SUM(vq) OVER win AS BIGINT) AS sum7
  FROM daily
  WINDOW win AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
ds AS (
  SELECT day, vq, sum7,
         CAST(EXTRACT(dow FROM day) AS INT) AS dow,
         CAST(7 * vq - sum7 AS BIGINT) AS dt_x
  FROM w7 WHERE n7 = 7),
dm AS (
  SELECT dow, CAST(SUM(dt_x) AS BIGINT) AS sum_dt,
         CAST(COUNT(*) AS BIGINT) AS n_dow
  FROM ds GROUP BY dow)
SELECT day,
       CAST(vq AS DOUBLE) / 100.0 AS value,
       CAST(sum7 AS DOUBLE) / 700.0 AS trend,
       CAST(sum_dt AS DOUBLE) / (700.0 * CAST(n_dow AS DOUBLE)) AS seasonal,
       CAST(dt_x AS DOUBLE) / 700.0
         - CAST(sum_dt AS DOUBLE) / (700.0 * CAST(n_dow AS DOUBLE)) AS residual
FROM ds JOIN dm USING (dow)
ORDER BY day
"""

# P60: multi-grain rollup — the oracle aggregates the FACTS per grain;
# matching proves the daily-aggregate reuse lossless.
ORACLE["multi_grain_rollup"] = """
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS p,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1)
SELECT 'day' AS grain, p AS period_start,
       CAST(cents AS DOUBLE) / 100.0 AS revenue, n_orders
FROM daily
UNION ALL
SELECT 'week', date_trunc('week', p),
       CAST(SUM(cents) AS DOUBLE) / 100.0, CAST(SUM(n_orders) AS BIGINT)
FROM daily GROUP BY 2
UNION ALL
SELECT 'month', date_trunc('month', p),
       CAST(SUM(cents) AS DOUBLE) / 100.0, CAST(SUM(n_orders) AS BIGINT)
FROM daily GROUP BY 2
"""


# L54: class geometry — integer fixed-point centroid sums (the 1/(n·1e6)
# scalar cancels in cosine), HUGEINT lifts where int64 would overflow,
# 1e9-quantized member cosines before the mean.
from dimagi_data_platform_spark.functions.num import sql_int_to_double as _sitd

# dab is SIGNED and exceeds 2^53 at sf>=1: DuckDB's negative
# HUGEINT->DOUBLE truncates toward zero (1 ulp off; positives round
# correctly), so the cast goes through the portable limb split — the
# Spark side mirrors with int_to_double (caught by the r9 sf1 sweep).
ORACLE["label_centroid_separation"] = f"""
WITH cells AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
  FROM embeddings),
cent AS (
  SELECT label, dim, CAST(SUM(xq) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n_vecs
  FROM cells GROUP BY label, dim),
cn AS (
  SELECT label, SUM(CAST(s AS HUGEINT) * s) AS s2, MAX(n_vecs) AS n_vecs
  FROM cent GROUP BY label),
dots AS (
  SELECT a.label AS label_a, b.label AS label_b,
         SUM(CAST(a.s AS HUGEINT) * b.s) AS dab
  FROM cent a JOIN cent b USING (dim)
  WHERE a.label < b.label
  GROUP BY 1, 2),
between_rows AS (
  SELECT label_a, label_b, 'between' AS kind,
         {_sitd('dab')}
           / (sqrt(CAST(na.s2 AS DOUBLE)) * sqrt(CAST(nb.s2 AS DOUBLE))) AS cosine,
         CAST(na.n_vecs + nb.n_vecs AS BIGINT) AS n
  FROM dots
  JOIN cn na ON na.label = label_a
  JOIN cn nb ON nb.label = label_b),
mem AS (
  SELECT vec_id, cells.label,
         CAST(SUM(xq * s) AS BIGINT) AS dxc,
         CAST(SUM(xq * xq) AS BIGINT) AS x2
  FROM cells JOIN cent USING (label, dim)
  GROUP BY vec_id, cells.label),
mcos AS (
  SELECT mem.label,
         CAST(FLOOR(CAST(dxc AS DOUBLE)
           / (sqrt(CAST(x2 AS DOUBLE)) * sqrt(CAST(cn.s2 AS DOUBLE)))
           * 1000000000.0) AS BIGINT) AS cq
  FROM mem JOIN cn ON cn.label = mem.label),
within_rows AS (
  SELECT label AS label_a, label AS label_b, 'within' AS kind,
         CAST(SUM(cq) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000000.0) AS cosine,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM mcos GROUP BY label)
SELECT * FROM between_rows
UNION ALL
SELECT * FROM within_rows
ORDER BY kind, label_a, label_b
"""


# L55: LSH band-tuning — capped-shingle exact Jaccard pairs (>= 0.05),
# band capture as OR-over-bands AND-over-rows on the md5-portable
# signatures, theory literals interpolated identically on both sides.
def _band_tuning_oracle() -> str:
    from dimagi_data_platform_spark.operators.minhash import (
        MINHASH_P,
        _hash_params,
    )

    params = _hash_params(64, 42)
    sig_cols = ",\n  ".join(
        f"MIN(({a}*h + {b}) % {MINHASH_P}) AS s{i}"
        for i, (a, b) in enumerate(params)
    )
    band_or = "\n       OR ".join(
        "(" + " AND ".join(f"a.s{b * 4 + j} = b.s{b * 4 + j}" for j in range(4)) + ")"
        for b in range(16)
    )
    # e-notation forces DuckDB to parse the literal as DOUBLE directly;
    # a long plain-decimal literal would go through DECIMAL and double-
    # round one ulp off the Python/Spark float
    theory = " ".join(
        "WHEN {} THEN {:.17e}".format(
            b, 1.0 - (1.0 - ((b + 0.5) / 10.0) ** 4) ** 16
        )
        for b in range(10)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
sh_all AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3),
sh AS (
  SELECT doc_id, shingle FROM sh_all
  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 50),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT doc_a, doc_b,
         CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
  FROM inter
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.05),
hs AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % {MINHASH_P} AS h
  FROM (SELECT DISTINCT doc_id, shingle FROM sh_all)),
sig AS (SELECT doc_id,
  {sig_cols}
  FROM hs GROUP BY doc_id),
flagged AS (
  SELECT p.doc_a, p.doc_b, p.jaccard,
         CASE WHEN ({band_or}) THEN 1 ELSE 0 END AS caught
  FROM pairs p
  JOIN sig a ON a.doc_id = p.doc_a
  JOIN sig b ON b.doc_id = p.doc_b),
binned AS (
  SELECT LEAST(CAST(FLOOR(jaccard * 10) AS BIGINT), 9) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(caught) AS BIGINT) AS n_caught
  FROM flagged GROUP BY 1)
SELECT bin, n_pairs, n_caught,
       CAST(n_caught AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS observed_rate,
       CASE bin {theory} END AS theory_p
FROM binned ORDER BY bin
"""


ORACLE["lsh_band_tuning"] = _band_tuning_oracle()


# L56: nearest-centroid confusion — same fixed-point cells/centroids
# as L54; the member norm cancels in the argmax.
ORACLE["nearest_centroid_confusion"] = """
WITH cells AS (
  SELECT vec_id, CAST(label AS BIGINT) AS true_label,
         CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
  FROM embeddings),
cent AS (
  SELECT true_label AS cand_label, dim, CAST(SUM(xq) AS BIGINT) AS s
  FROM cells GROUP BY 1, 2),
cn AS (
  SELECT cand_label, SUM(CAST(s AS HUGEINT) * s) AS s2
  FROM cent GROUP BY cand_label),
scores AS (
  SELECT vec_id, true_label, cand_label,
         CAST(SUM(xq * s) AS DOUBLE) / sqrt(CAST(MAX(s2) AS DOUBLE)) AS score
  FROM cells
  JOIN cent USING (dim)
  JOIN cn USING (cand_label)
  GROUP BY vec_id, true_label, cand_label),
pred AS (
  SELECT vec_id, true_label, cand_label AS pred_label
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cand_label) AS rk
        FROM scores)
  WHERE rk = 1),
grid AS (
  SELECT true_label, pred_label, CAST(COUNT(*) AS BIGINT) AS n_vecs
  FROM pred GROUP BY 1, 2)
SELECT true_label, pred_label, n_vecs,
       CAST(n_vecs AS DOUBLE)
         / CAST(SUM(n_vecs) OVER (PARTITION BY true_label) AS DOUBLE) AS frac_of_true
FROM grid ORDER BY true_label, pred_label
"""

# P61: k-anonymity audit.
ORACLE["k_anonymity_audit"] = """
WITH grid AS (
  SELECT c_mktsegment, c_nationkey, CAST(COUNT(*) AS BIGINT) AS n
  FROM customer GROUP BY 1, 2),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM grid)
SELECT c_mktsegment, c_nationkey, n,
       CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) AS exposed_share
FROM grid CROSS JOIN tot
WHERE n < 5
ORDER BY c_mktsegment, c_nationkey
"""


# L57: SemDeDup-flat — literal-quantizer assignment (same centroid
# chains as knn_ivf_flat, 1-based), within-cluster lower-id best match,
# keep decision at the 0.35 threshold, -1/0.0 encodes "kept".
def _semantic_dedup_flat_sql(nlist: int = 8, dim: int = 64, seed: int = 23, threshold: float = 0.35) -> str:
    from dimagi_data_platform_spark.operators.similarity import _planes

    cents = _planes(dim, nlist, seed)
    dcols = ",\n         ".join(
        "(0.0 + "
        + " + ".join(
            f"CAST(embedding[{j + 1}] AS DOUBLE) * ({p!r})"
            for j, p in enumerate(plane)
        )
        + f") AS d{i}"
        for i, plane in enumerate(cents)
    )
    argmax = "CASE " + " ".join(
        "WHEN "
        + " AND ".join(f"d{i} >= d{j}" for j in range(nlist) if j != i)
        + f" THEN {i}"
        for i in range(nlist - 1)
    ) + f" ELSE {nlist - 1} END"
    return f"""
WITH base AS (
  SELECT vec_id, embedding,
         {dcols},
         sqrt({_vdot('embedding', 'embedding')}) AS nrm
  FROM embeddings),
assigned AS (
  SELECT vec_id AS id, embedding AS vec, nrm,
         CAST({argmax} AS BIGINT) AS list_id
  FROM base),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, a.list_id,
         {_vdot('a.vec', 'b.vec')} / (a.nrm * b.nrm) AS cos_sim
  FROM assigned a JOIN assigned b USING (list_id)
  WHERE b.id < a.id),
best AS (
  SELECT id_a, id_b AS bm_id, cos_sim AS bm_cos
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY cos_sim DESC, id_b) AS rk
        FROM pairs)
  WHERE rk = 1),
out AS (
  SELECT assigned.id AS vec_id, list_id,
         COALESCE(bm_cos < {threshold!r}, TRUE) AS is_kept,
         bm_id, bm_cos
  FROM assigned LEFT JOIN best ON best.id_a = assigned.id)
SELECT vec_id, list_id, is_kept,
       CAST(CASE WHEN is_kept THEN -1 ELSE bm_id END AS BIGINT) AS matched_id,
       CASE WHEN is_kept THEN 0.0 ELSE bm_cos END AS cos_sim
FROM out
"""


ORACLE["semantic_dedup_flat"] = _semantic_dedup_flat_sql()


# P64: session-level event-type lift — log-free PMI, exact integer
# cross-products, one closing IEEE division.
ORACLE["session_event_lift"] = """
WITH x AS (
  SELECT user_id, ts, event_id, event_type,
    CASE WHEN LAG(ts) OVER w IS NULL
           OR date_diff('microsecond', LAG(ts) OVER w, ts) > 1800000000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM x),
st AS (SELECT DISTINCT user_id, session_id, event_type FROM s),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions
        FROM (SELECT DISTINCT user_id, session_id FROM st)),
singles AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_single
  FROM st GROUP BY event_type),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM st a JOIN st b USING (user_id, session_id)
  WHERE a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT type_a, type_b, n_ab,
       CAST(n_ab * n_sessions AS DOUBLE)
         / CAST(sa.n_single * sb.n_single AS DOUBLE) AS lift
FROM pairs
JOIN singles sa ON sa.event_type = type_a
JOIN singles sb ON sb.event_type = type_b
CROSS JOIN tot
ORDER BY lift DESC, type_a, type_b
"""


# P65: incremental view maintenance — the oracle computes the view
# from ALL facts; matching proves the base+delta merge lossless.
ORACLE["incremental_daily_agg"] = """
WITH d AS (
  SELECT date_trunc('day', o_orderdate) AS day,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(MIN(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS min_c,
         CAST(MAX(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS max_c
  FROM orders GROUP BY 1)
SELECT day,
       CAST(cents AS DOUBLE) / 100.0 AS revenue,
       n_orders,
       CAST(min_c AS DOUBLE) / 100.0 AS min_price,
       CAST(max_c AS DOUBLE) / 100.0 AS max_price,
       CAST(cents AS DOUBLE) / (CAST(n_orders AS DOUBLE) * 100.0) AS avg_price
FROM d ORDER BY day
"""


def _ppr_sql(n_iter: int = 4) -> str:
    """Unrolled integer fixed-point PERSONALIZED PageRank (twin of
    operators/graph.personalized_pagerank): the start vector and the
    teleport live only on the 3-part seed set; the co-purchase graph
    is undirected so the dangling term is identically zero."""
    scale = 1000000000000000
    ctes = [
        """lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)""",
        """e0 AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)""",
        """e AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM e0
  UNION ALL SELECT v AS src, u AS dst FROM e0)""",
        """verts AS MATERIALIZED (SELECT DISTINCT src AS p FROM e)""",
        """outdeg AS MATERIALIZED (SELECT src AS p, COUNT(*) AS outdeg FROM e GROUP BY src)""",
        """seeds AS (SELECT p FROM verts ORDER BY p LIMIT 3)""",
        """sv AS MATERIALIZED (SELECT v.p, (s.p IS NOT NULL) AS is_seed
  FROM verts v LEFT JOIN seeds s ON s.p = v.p)""",
        f"""r0 AS (SELECT p, CAST(CASE WHEN is_seed THEN {scale} // 3 ELSE 0 END AS BIGINT) AS r
  FROM sv)""",
    ]
    teleport = f"(15 * ({scale} // 3)) // 100"
    for k in range(1, n_iter + 1):
        ctes.append(
            f"""r{k} AS MATERIALIZED (
  SELECT v.p,
         CAST((85 * COALESCE(s.inflow, 0)) // 100
              + CASE WHEN v.is_seed THEN {teleport} ELSE 0 END AS BIGINT) AS r
  FROM sv v
  LEFT JOIN (
    SELECT e.dst AS p, CAST(SUM(r.r // o.outdeg) AS BIGINT) AS inflow
    FROM e
    JOIN r{k - 1} r ON r.p = e.src
    JOIN outdeg o ON o.p = e.src
    GROUP BY e.dst) s ON s.p = v.p)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT p AS p_partkey, r AS rank_fixed,
       CAST(r AS DOUBLE) / 1e15 AS ppr
FROM r{n_iter}
ORDER BY rank_fixed DESC, p_partkey LIMIT 20"""
    )


ORACLE["part_ppr"] = _ppr_sql(4)


# P66: l-diversity audit.
ORACLE["l_diversity_audit"] = """
WITH grid AS (
  SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
  FROM customer GROUP BY 1, 2),
per_qi AS (
  SELECT c_nationkey,
         CAST(COUNT(*) AS BIGINT) AS l_distinct,
         CAST(SUM(n) AS BIGINT) AS n_rows,
         CAST(MAX(n) AS BIGINT) AS n_dominant
  FROM grid GROUP BY c_nationkey)
SELECT c_nationkey, l_distinct, n_rows,
       CAST(n_dominant AS DOUBLE) / CAST(n_rows AS DOUBLE) AS dominant_share
FROM per_qi WHERE l_distinct < 3
ORDER BY c_nationkey
"""

# P67: trending event types — integer cross-product momentum, one
# closing division; full-history + volume guards.
ORACLE["trending_event_types"] = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, event_type,
         CAST(COUNT(*) AS BIGINT) AS n_today
  FROM events GROUP BY 1, 2),
hist AS (
  SELECT day, event_type, n_today,
         COUNT(*) OVER w AS n_days_prior,
         CAST(SUM(n_today) OVER w AS BIGINT) AS n_prior7
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
SELECT day, event_type, n_today, n_prior7,
       CAST(7 * n_today AS DOUBLE) / CAST(n_prior7 AS DOUBLE) AS lift
FROM hist
WHERE n_days_prior = 7 AND n_today >= 10
ORDER BY lift DESC, day, event_type
LIMIT 20
"""


# L58: embedding decontamination — same left-fold chains; argmax via
# row_number (cos DESC, eval_id) mirroring Spark's max_by struct order.
ORACLE["embedding_decontaminate"] = f"""
WITH train AS (
  SELECT vec_id, embedding AS t_vec,
         sqrt({_vdot('embedding', 'embedding')}) AS t_norm
  FROM embeddings WHERE vec_id >= 20),
ev AS (
  SELECT vec_id AS eval_id, embedding AS e_vec,
         sqrt({_vdot('embedding', 'embedding')}) AS e_norm
  FROM embeddings WHERE vec_id < 20),
s AS (
  SELECT train.vec_id, ev.eval_id,
         {_vdot('t_vec', 'e_vec')} / (t_norm * e_norm) AS cos_sim
  FROM train CROSS JOIN ev),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, eval_id) AS rk
  FROM s)
SELECT vec_id, eval_id AS nearest_eval_id, cos_sim AS max_eval_cos,
       cos_sim >= 0.95 AS is_contaminated
FROM r WHERE rk = 1
ORDER BY vec_id
"""


# R71: time-weighted average — HUGEINT term products, one division.
ORACLE["user_time_weighted_value"] = """
WITH seg AS (
  SELECT user_id,
         CAST(FLOOR(value * 100.0) AS BIGINT) AS vq,
         CAST(date_diff('microsecond', ts,
              LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           AS BIGINT) AS dt_us
  FROM events),
agg AS (
  SELECT user_id,
         SUM(CAST(vq AS HUGEINT) * dt_us) AS wsum,
         CAST(SUM(dt_us) AS BIGINT) AS t_total_us,
         CAST(COUNT(*) AS BIGINT) AS n_segments
  FROM seg WHERE dt_us IS NOT NULL
  GROUP BY user_id)
SELECT user_id, n_segments,
       CAST(t_total_us AS DOUBLE) / 1000000.0 AS span_s,
       CAST(wsum AS DOUBLE) / (CAST(t_total_us AS DOUBLE) * 100.0) AS twap_value
FROM agg ORDER BY user_id
"""

# R72: longest consecutive-growth streak (gaps-and-islands on deltas).
ORACLE["customer_growth_streaks"] = """
WITH q AS (
  SELECT o_custkey,
         CAST(EXTRACT(year FROM o_orderdate) * 4
              + (EXTRACT(quarter FROM o_orderdate) - 1) AS BIGINT) AS qnum,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2),
flagged AS (
  SELECT o_custkey, qnum, cents,
         CASE WHEN LAG(qnum) OVER w = qnum - 1
               AND LAG(cents) OVER w < cents
              THEN 0 ELSE 1 END AS is_start
  FROM q WINDOW w AS (PARTITION BY o_custkey ORDER BY qnum)),
runs AS (
  SELECT *, CAST(SUM(is_start) OVER (PARTITION BY o_custkey ORDER BY qnum
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
  FROM flagged),
streaks AS (
  SELECT o_custkey, run_id,
         CAST(COUNT(*) AS BIGINT) AS len_quarters,
         CAST(MIN(qnum) AS BIGINT) AS start_qnum,
         CAST(MAX(cents) AS BIGINT) AS peak_cents
  FROM runs GROUP BY 1, 2)
SELECT o_custkey, len_quarters, start_qnum,
       CAST(peak_cents AS DOUBLE) / 100.0 AS peak_spend
FROM streaks
ORDER BY len_quarters DESC, o_custkey, start_qnum
LIMIT 20
"""


# P68: U-shaped multi-touch attribution — integer ppm credit exact per
# purchase (remainder to the first touch), HUGEINT credited cents.
ORACLE["ushape_attribution"] = """
WITH p AS (
  SELECT event_id AS p_id, user_id,
         CAST(date_diff('microsecond', TIMESTAMP '1970-01-01', ts) AS BIGINT) AS p_us,
         CAST(FLOOR(value * 100.0) AS BIGINT) AS p_cents
  FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT event_id AS c_id, user_id,
         CAST(date_diff('microsecond', TIMESTAMP '1970-01-01', ts) AS BIGINT) AS c_us,
         ts AS c_ts
  FROM events WHERE event_type = 'click'),
pairs AS (
  SELECT p.p_id, p.p_cents, c.c_id, c.c_us, c.c_ts
  FROM p JOIN c ON p.user_id = c.user_id
   AND c.c_us <= p.p_us AND c.c_us > p.p_us - 1800000000),
pos AS (
  SELECT p_id, p_cents, c_id, c_ts,
         CAST(ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY c_us, c_id) AS BIGINT) AS pos,
         CAST(COUNT(*) OVER (PARTITION BY p_id) AS BIGINT) AS n_touch
  FROM pairs),
credited AS (
  SELECT *,
    CAST(CASE
      WHEN n_touch = 1 THEN 1000000
      WHEN n_touch = 2 THEN 500000
      WHEN pos = n_touch THEN 400000
      WHEN pos = 1 THEN 400000 + (200000 - (200000 // (n_touch - 2)) * (n_touch - 2))
      ELSE 200000 // (n_touch - 2)
    END AS BIGINT) AS credit_ppm
  FROM pos)
SELECT date_trunc('hour', c_ts) AS click_hour,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(credit_ppm) AS BIGINT) AS sum_ppm,
       CAST(SUM(CAST(credit_ppm AS HUGEINT) * p_cents) AS DOUBLE) / 100000000.0
         AS credited_value
FROM credited
GROUP BY 1 ORDER BY 1
"""

# R73: QQ decile table (urgent vs other order values).
ORACLE["order_value_qq"] = """
WITH g AS (
  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 'urgent' ELSE 'other' END AS grp,
         o_totalprice, o_orderkey
  FROM orders),
ranked AS (
  SELECT grp, o_totalprice,
         CAST(ROW_NUMBER() OVER (PARTITION BY grp ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n
  FROM g),
targets AS (
  SELECT grp, d, CAST(CEIL(d * n / 10) AS BIGINT) AS rn
  FROM (SELECT DISTINCT grp, n FROM ranked),
       (SELECT UNNEST([1,2,3,4,5,6,7,8,9]) AS d)),
deciles AS (
  SELECT r.grp, t.d, r.o_totalprice
  FROM ranked r JOIN targets t ON t.grp = r.grp AND t.rn = r.rn)
SELECT CAST(u.d AS BIGINT) AS decile,
       u.o_totalprice AS urgent_q,
       o.o_totalprice AS other_q,
       u.o_totalprice - o.o_totalprice AS gap
FROM deciles u JOIN deciles o ON u.d = o.d AND u.grp = 'urgent' AND o.grp = 'other'
ORDER BY decile
"""


# R74: Holt forecast — the identical affine lag combo (coefficients
# from queries.HOLT_NUMS) over cent-quantized daily values.
def _holt_sql() -> str:
    from dimagi_data_platform_spark.plans.queries import HOLT_DEN, HOLT_NUMS

    terms = " + ".join(
        f"({c}) * LAG(vq, {7 - i}) OVER (ORDER BY day)"
        for i, c in enumerate(HOLT_NUMS)
    )
    return f"""
WITH daily AS (
  SELECT date_trunc('day', ts) AS day,
         SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) AS vq
  FROM events GROUP BY 1)
SELECT day,
       CAST(vq AS DOUBLE) / 100.0 AS daily_value,
       CAST(CAST({terms} AS BIGINT) AS DOUBLE) / {float(HOLT_DEN * 100)!r}
         AS forecast_next_day
FROM daily ORDER BY day
"""


ORACLE["holt_forecast_daily"] = _holt_sql()

# L59: Jensen-Shannon divergence between source term distributions —
# fixed-point lnq chains mirrored exactly.
ORACLE["source_term_js_divergence"] = """
WITH st AS (
  SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents),
cnt AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
  FROM st GROUP BY 1, 2),
per_src AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n,
         SUM(CAST(c AS HUGEINT) * CAST(FLOOR(ln(c) * 1000000.0) AS BIGINT)) AS s
  FROM cnt GROUP BY source),
pair_meta AS (
  SELECT a.source AS src_a, b.source AS src_b,
         a.n AS na, b.n AS nb, a.s AS sa, b.s AS sb
  FROM per_src a JOIN per_src b ON a.source < b.source),
a2 AS (
  SELECT p.src_a, p.src_b, c.term, c.c AS ca
  FROM cnt c JOIN pair_meta p ON p.src_a = c.source),
b2 AS (
  SELECT p.src_a, p.src_b, c.term, c.c AS cb
  FROM cnt c JOIN pair_meta p ON p.src_b = c.source),
aligned AS (
  SELECT COALESCE(a2.src_a, b2.src_a) AS src_a,
         COALESCE(a2.src_b, b2.src_b) AS src_b,
         COALESCE(a2.term, b2.term) AS term,
         COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
  FROM a2 FULL JOIN b2
    ON a2.src_a = b2.src_a AND a2.src_b = b2.src_b AND a2.term = b2.term),
g AS (
  SELECT al.src_a, al.src_b,
         SUM(CAST(ca * nb + cb * na AS HUGEINT)
             * CAST(FLOOR(ln(ca * nb + cb * na) * 1000000.0) AS BIGINT)) AS su,
         MAX(na) AS na, MAX(nb) AS nb, MAX(sa) AS sa, MAX(sb) AS sb
  FROM aligned al JOIN pair_meta USING (src_a, src_b)
  GROUP BY al.src_a, al.src_b)
SELECT src_a, src_b, na, nb,
       (CAST(FLOOR(ln(CAST(2 * na * nb AS BIGINT)) * 1000000.0) AS DOUBLE)
          - CAST(su AS DOUBLE) / CAST(CAST(2 * na * nb AS BIGINT) AS DOUBLE))
         / 1000000.0
       - ((CAST(FLOOR(ln(na) * 1000000.0) AS DOUBLE)
            - CAST(sa AS DOUBLE) / CAST(na AS DOUBLE))
          + (CAST(FLOOR(ln(nb) * 1000000.0) AS DOUBLE)
            - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)))
         / 2000000.0 AS jsd_nats
FROM g ORDER BY src_a, src_b
"""


# P69: cohort LTV curve.
ORACLE["cohort_ltv_curve"] = """
WITH first AS (
  SELECT o_custkey, date_trunc('month', MIN(o_orderdate)) AS cohort
  FROM orders GROUP BY o_custkey),
sized AS (
  SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_members
  FROM first GROUP BY cohort),
aged AS (
  SELECT cohort,
         CAST((EXTRACT(year FROM o_orderdate) - EXTRACT(year FROM cohort)) * 12
              + (EXTRACT(month FROM o_orderdate) - EXTRACT(month FROM cohort)) AS BIGINT) AS age,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
  FROM orders JOIN first USING (o_custkey)
  WHERE (EXTRACT(year FROM o_orderdate) - EXTRACT(year FROM cohort)) * 12
        + (EXTRACT(month FROM o_orderdate) - EXTRACT(month FROM cohort)) <= 24
  GROUP BY 1, 2),
cum AS (
  SELECT cohort, age, cents,
         CAST(SUM(cents) OVER (PARTITION BY cohort ORDER BY age
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
  FROM aged)
SELECT cohort, age, n_members,
       CAST(cum_cents AS DOUBLE) / 100.0 AS cum_revenue,
       CAST(cum_cents AS DOUBLE) / (CAST(n_members AS DOUBLE) * 100.0) AS ltv_per_member
FROM cum JOIN sized USING (cohort)
ORDER BY cohort, age
"""

# P70: deletion cascade impact.
ORACLE["deletion_cascade_impact"] = """
WITH del_keys AS (SELECT c_custkey FROM customer WHERE c_acctbal < -900),
aff_orders AS (
  SELECT * FROM orders WHERE o_custkey IN (SELECT c_custkey FROM del_keys)),
aff_li AS (
  SELECT * FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM aff_orders))
SELECT 'customer' AS table_name,
       CAST((SELECT COUNT(*) FROM del_keys) AS BIGINT) AS n_affected,
       CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_total,
       CAST((SELECT COUNT(*) FROM del_keys) AS DOUBLE)
         / NULLIF(CAST((SELECT COUNT(*) FROM customer) AS DOUBLE), 0)
         AS affected_frac
UNION ALL
SELECT 'orders',
       CAST((SELECT COUNT(*) FROM aff_orders) AS BIGINT),
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
       CAST((SELECT COUNT(*) FROM aff_orders) AS DOUBLE)
         / NULLIF(CAST((SELECT COUNT(*) FROM orders) AS DOUBLE), 0)
UNION ALL
SELECT 'lineitem',
       CAST((SELECT COUNT(*) FROM aff_li) AS BIGINT),
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
       CAST((SELECT COUNT(*) FROM aff_li) AS DOUBLE)
         / NULLIF(CAST((SELECT COUNT(*) FROM lineitem) AS DOUBLE), 0)
"""

# L60: deterministic contrastive negatives (portable md5 ordering).
ORACLE["contrastive_negatives"] = """
WITH hashed AS (
  SELECT doc_id, md5(trim(lower(text))) AS chash FROM documents),
anchors AS (
  SELECT doc_id AS anchor_id, chash AS a_hash FROM hashed WHERE doc_id < 10),
pairs AS (
  SELECT anchor_id, h.doc_id AS neg_id,
         md5(CAST(anchor_id AS VARCHAR) || ':' || CAST(h.doc_id AS VARCHAR)) AS rk_hash
  FROM anchors a JOIN hashed h
    ON h.doc_id <> a.anchor_id AND h.chash <> a.a_hash)
SELECT anchor_id, neg_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY rk_hash, neg_id) AS BIGINT) AS "rank"
FROM pairs
QUALIFY "rank" <= 5
ORDER BY anchor_id, "rank"
"""


# R75: order-to-ship latency profile.
ORACLE["order_to_ship_latency"] = """
WITH g AS (
  SELECT o_orderpriority,
         CAST(FLOOR(date_diff('day', o_orderdate, l_shipdate) / 7) AS BIGINT) AS week_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_lines
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2)
SELECT o_orderpriority, week_bucket, n_lines,
       CAST(n_lines AS DOUBLE)
         / CAST(SUM(n_lines) OVER (PARTITION BY o_orderpriority) AS DOUBLE)
         AS frac_of_priority
FROM g ORDER BY o_orderpriority, week_bucket
"""

# R76: monthly revenue waterfall (quantized component sums).
ORACLE["monthly_revenue_waterfall"] = f"""
WITH g AS (
  SELECT date_trunc('month', l_shipdate) AS month,
         {sql_qsum('l_extendedprice', 2)} AS gross,
         {sql_qsum('l_extendedprice * l_discount', 2)} AS discounts,
         {sql_qsum('l_extendedprice * (1.0 - l_discount) * l_tax', 2)} AS taxes
  FROM lineitem GROUP BY 1)
SELECT month, gross, discounts, taxes,
       gross - discounts + taxes AS net
FROM g ORDER BY month
"""

# R77: per-segment mode priority.
ORACLE["segment_priority_mode"] = """
WITH g AS (
  SELECT c_mktsegment, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2)
SELECT c_mktsegment, o_orderpriority AS mode_priority, n AS n_orders
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        ORDER BY n DESC, o_orderpriority) AS rk FROM g)
WHERE rk = 1
ORDER BY c_mktsegment
"""


# P71: duplicate-invoice pairs (same customer, |d price| < $1, <= 7d).
ORACLE["duplicate_invoice_pairs"] = """
WITH o AS (
  SELECT o_custkey, o_orderkey AS ok,
         CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS cents,
         CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS dnum
  FROM orders)
SELECT a.o_custkey AS o_custkey, a.ok AS ok_a, b.ok AS ok_b,
       CAST(a.cents AS DOUBLE) / 100.0 AS price_a,
       CAST(b.cents AS DOUBLE) / 100.0 AS price_b,
       CAST(ABS(a.dnum - b.dnum) AS BIGINT) AS days_apart
FROM o a JOIN o b
  ON a.o_custkey = b.o_custkey AND a.ok < b.ok
 AND ABS(a.cents - b.cents) < 100 AND ABS(a.dnum - b.dnum) <= 7
ORDER BY 1, 2, 3
"""

# L61: emerging terms (df growth across corpus halves, add-one ratio).
ORACLE["emerging_terms"] = """
WITH tot AS (SELECT MAX(doc_id) AS max_id FROM documents),
tagged AS (
  SELECT doc_id, text, (doc_id * 2 > max_id) AS is_late
  FROM documents CROSS JOIN tot),
tt AS (
  SELECT DISTINCT doc_id, is_late,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM tagged),
df_half AS (
  SELECT term, is_late, CAST(COUNT(*) AS BIGINT) AS df
  FROM tt GROUP BY 1, 2),
halves AS (
  SELECT is_late, CAST(COUNT(*) AS BIGINT) AS n_half
  FROM tagged GROUP BY is_late),
e AS (SELECT term, df AS df2 FROM df_half WHERE is_late),
l AS (SELECT term, df AS df1 FROM df_half WHERE NOT is_late),
n1 AS (SELECT n_half AS n1 FROM halves WHERE NOT is_late),
n2 AS (SELECT n_half AS n2 FROM halves WHERE is_late)
SELECT term, CAST(COALESCE(df1, 0) AS BIGINT) AS df1, df2,
       CAST((df2 + 1) * (n1 + 1) AS DOUBLE)
         / CAST((COALESCE(df1, 0) + 1) * (n2 + 1) AS DOUBLE) AS growth
FROM e LEFT JOIN l USING (term)
CROSS JOIN n1 CROSS JOIN n2
WHERE df2 >= 5
ORDER BY growth DESC, term
LIMIT 20
"""

# P72: round-price bias audit.
ORACLE["round_price_bias"] = """
WITH g AS (
  SELECT c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CASE WHEN CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) % 100 = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_round
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment)
SELECT c_mktsegment, n_orders, n_round,
       CAST(n_round AS DOUBLE) / CAST(n_orders AS DOUBLE) AS round_share,
       CAST(n_round AS DOUBLE) / CAST(n_orders AS DOUBLE) * 100.0 AS ratio_to_uniform
FROM g ORDER BY c_mktsegment
"""


# R78: nation supplier HHI.
ORACLE["nation_supplier_hhi"] = """
WITH per_sup AS (
  SELECT s_nationkey, s_suppkey,
         CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2),
g AS (
  SELECT s_nationkey,
         CAST(COUNT(*) AS BIGINT) AS n_suppliers,
         CAST(SUM(cents) AS BIGINT) AS total_cents,
         SUM(CAST(cents AS HUGEINT) * cents) AS sq
  FROM per_sup GROUP BY s_nationkey)
SELECT s_nationkey, n_suppliers,
       CAST(total_cents AS DOUBLE) / 100.0 AS total_revenue,
       CAST(sq AS DOUBLE)
         / (CAST(total_cents AS DOUBLE) * CAST(total_cents AS DOUBLE)) AS hhi
FROM g ORDER BY s_nationkey
"""

# R79: common-neighbors link prediction — identical orientation
# (deg*2^40+id packing) stated relationally.
ORACLE["copurchase_link_prediction"] = """
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
allv AS (
  SELECT u AS p FROM e0 UNION ALL SELECT v FROM e0),
deg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS deg FROM allv GROUP BY p),
packed AS (
  SELECT e0.u, e0.v,
         du.deg * 1099511627776 + e0.u AS ku,
         dv.deg * 1099511627776 + e0.v AS kv
  FROM e0 JOIN deg du ON du.p = e0.u JOIN deg dv ON dv.p = e0.v),
directed AS (
  SELECT CASE WHEN ku < kv THEN u ELSE v END AS src,
         CASE WHEN ku < kv THEN v ELSE u END AS dst
  FROM packed),
wedges AS (
  SELECT d1.dst AS u, d2.dst AS v, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM directed d1 JOIN directed d2
    ON d1.src = d2.src AND d1.dst < d2.dst
  GROUP BY 1, 2),
pred AS (
  SELECT w.u, w.v, w.n_common
  FROM wedges w ANTI JOIN e0 ON e0.u = w.u AND e0.v = w.v)
SELECT u AS part_a, v AS part_b, n_common
FROM pred
ORDER BY n_common DESC, part_a, part_b
LIMIT 20
"""

# R79b: hub-capped common-neighbors — centers with oriented outdeg > 64
# excluded, dropped mass reported on every row.
ORACLE["copurchase_link_prediction_capped"] = """
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
allv AS (
  SELECT u AS p FROM e0 UNION ALL SELECT v FROM e0),
deg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS deg FROM allv GROUP BY p),
packed AS (
  SELECT e0.u, e0.v,
         du.deg * 1099511627776 + e0.u AS ku,
         dv.deg * 1099511627776 + e0.v AS kv
  FROM e0 JOIN deg du ON du.p = e0.u JOIN deg dv ON dv.p = e0.v),
directed AS (
  SELECT CASE WHEN ku < kv THEN u ELSE v END AS src,
         CASE WHEN ku < kv THEN v ELSE u END AS dst
  FROM packed),
od AS (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
  FROM directed GROUP BY src),
droppedm AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS dropped_centers,
         CAST(COALESCE(SUM(outdeg * (outdeg - 1) // 2), 0) AS BIGINT)
           AS dropped_wedges
  FROM od WHERE outdeg > 64),
kept AS (SELECT src FROM od WHERE outdeg >= 2 AND outdeg <= 64),
wedges AS (
  SELECT d1.dst AS u, d2.dst AS v, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM directed d1 JOIN directed d2
    ON d1.src = d2.src AND d1.dst < d2.dst
  JOIN kept k ON k.src = d1.src
  GROUP BY 1, 2),
pred AS (
  SELECT w.u, w.v, w.n_common
  FROM wedges w ANTI JOIN e0 ON e0.u = w.u AND e0.v = w.v)
SELECT u AS part_a, v AS part_b, n_common, dropped_centers, dropped_wedges
FROM (SELECT * FROM pred
      ORDER BY n_common DESC, u, v
      LIMIT 20)
CROSS JOIN droppedm
ORDER BY n_common DESC, part_a, part_b
"""


# R80: quantile transform (empirical percentile per order).
ORACLE["order_value_quantile_transform"] = """
WITH ranked AS (
  SELECT o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM orders)
SELECT o_orderkey, o_totalprice, rn AS value_rank,
       CASE WHEN n > 1
            THEN CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)
       END AS quantile
FROM ranked WHERE o_orderkey < 2000
ORDER BY o_orderkey
"""

# R81: winsorized order stats (exact rank-at-ceil thresholds).
ORACLE["winsorized_order_stats"] = """
WITH o AS (
  SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS cents
  FROM orders),
ranked AS (
  SELECT cents,
         CAST(ROW_NUMBER() OVER (ORDER BY cents, o_orderkey) AS BIGINT) AS rn,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM o),
th AS (
  SELECT MIN(cents) AS lo, MAX(cents) AS hi, MAX(n) AS n
  FROM ranked
  WHERE rn = CAST(CEIL(0.05 * n) AS BIGINT) OR rn = CAST(CEIL(0.95 * n) AS BIGINT)),
clipped AS (
  SELECT GREATEST(lo, LEAST(hi, cents)) AS w_cents,
         CASE WHEN cents < lo THEN 1 ELSE 0 END AS clip_lo,
         CASE WHEN cents > hi THEN 1 ELSE 0 END AS clip_hi,
         lo, hi, n
  FROM o CROSS JOIN th)
SELECT MAX(CAST(lo AS DOUBLE) / 100.0) AS p05,
       MAX(CAST(hi AS DOUBLE) / 100.0) AS p95,
       CAST(SUM(clip_lo) AS BIGINT) AS n_clipped_low,
       CAST(SUM(clip_hi) AS BIGINT) AS n_clipped_high,
       CAST(SUM(w_cents) AS DOUBLE) / (CAST(MAX(n) AS DOUBLE) * 100.0) AS winsorized_mean
FROM clipped
"""


# P73: daily returns p-chart with 3-sigma binomial limits.
ORACLE["returns_pchart"] = """
WITH daily AS (
  SELECT date_trunc('day', l_shipdate) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returns
  FROM lineitem GROUP BY 1),
tot AS (
  SELECT CAST(SUM(n_lines) AS BIGINT) AS nt, CAST(SUM(n_returns) AS BIGINT) AS rt
  FROM daily)
SELECT day, n_lines, n_returns,
       CAST(n_returns AS DOUBLE) / CAST(n_lines AS DOUBLE) AS p_day,
       CAST(rt AS DOUBLE) / CAST(nt AS DOUBLE)
         + 3.0 * sqrt((CAST(rt AS DOUBLE) / CAST(nt AS DOUBLE))
             * (1.0 - CAST(rt AS DOUBLE) / CAST(nt AS DOUBLE))
             / CAST(n_lines AS DOUBLE)) AS ucl,
       CAST(rt AS DOUBLE) / CAST(nt AS DOUBLE)
         - 3.0 * sqrt((CAST(rt AS DOUBLE) / CAST(nt AS DOUBLE))
             * (1.0 - CAST(rt AS DOUBLE) / CAST(nt AS DOUBLE))
             / CAST(n_lines AS DOUBLE)) AS lcl,
       (CAST(n_returns AS DOUBLE) / CAST(n_lines AS DOUBLE)
          > CAST(rt AS DOUBLE) / CAST(nt AS DOUBLE)
            + 3.0 * sqrt((CAST(rt AS DOUBLE) / CAST(nt AS DOUBLE))
                * (1.0 - CAST(rt AS DOUBLE) / CAST(nt AS DOUBLE))
                / CAST(n_lines AS DOUBLE)))
       OR (CAST(n_returns AS DOUBLE) / CAST(n_lines AS DOUBLE)
          < CAST(rt AS DOUBLE) / CAST(nt AS DOUBLE)
            - 3.0 * sqrt((CAST(rt AS DOUBLE) / CAST(nt AS DOUBLE))
                * (1.0 - CAST(rt AS DOUBLE) / CAST(nt AS DOUBLE))
                / CAST(n_lines AS DOUBLE))) AS out_of_control
FROM daily CROSS JOIN tot
ORDER BY day
"""

# P74: per-user behavioral entropy (fixed-point lnq).
ORACLE["user_behavior_entropy"] = """
WITH ut AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
g AS (
  SELECT user_id,
         CAST(SUM(c) AS BIGINT) AS n_events,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(c * CAST(FLOOR(ln(c) * 1000000.0) AS BIGINT)) AS BIGINT) AS hsum
  FROM ut GROUP BY user_id)
SELECT user_id, n_events, n_types,
       CAST(n_events * CAST(FLOOR(ln(n_events) * 1000000.0) AS BIGINT) - hsum AS DOUBLE)
         / (CAST(n_events AS DOUBLE) * 1000000.0) AS entropy_nats
FROM g ORDER BY user_id
"""


# P75: Wilson 95% score intervals for segment conversion.
ORACLE["segment_conversion_wilson"] = """
WITH buyers AS (
  SELECT c_custkey, c_mktsegment FROM customer
  WHERE c_custkey IN (SELECT o_custkey FROM orders)),
per AS (
  SELECT c.c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(b.k, 0) AS BIGINT) AS k
  FROM customer c
  LEFT JOIN (SELECT c_mktsegment, COUNT(*) AS k FROM buyers GROUP BY 1) b
    USING (c_mktsegment)
  GROUP BY c.c_mktsegment, b.k)
SELECT c_mktsegment, n, k,
       CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p_hat,
       (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
          + 1.96 * 1.96 / (2.0 * CAST(n AS DOUBLE))) / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE))
       - 1.96 * sqrt(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
             * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
             + 1.96 * 1.96 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
         / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE)) AS wilson_lo,
       (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
          + 1.96 * 1.96 / (2.0 * CAST(n AS DOUBLE))) / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE))
       + 1.96 * sqrt(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
             * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
             + 1.96 * 1.96 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
         / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE)) AS wilson_hi
FROM per ORDER BY c_mktsegment
"""

# P76: hour x weekday seasonality grid.
ORACLE["hourly_weekday_profile"] = """
WITH g AS (
  SELECT CAST(EXTRACT(dow FROM ts) AS BIGINT) AS dow,
         CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2)
SELECT dow, hour, n_events,
       CAST(n_events AS DOUBLE)
         / CAST(SUM(n_events) OVER (PARTITION BY dow) AS DOUBLE) AS frac_of_dow
FROM g ORDER BY dow, hour
"""


# P77: association rules (support/confidence/lift, directed).
ORACLE["basket_association_rules"] = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS ant, b.l_partkey AS cons,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 3),
per_part AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_orders_part
  FROM li GROUP BY l_partkey),
n_tot AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders_total FROM li)
SELECT ant, cons, n_ab,
       CAST(n_ab AS DOUBLE) / CAST(n_orders_total AS DOUBLE) AS support,
       CAST(n_ab AS DOUBLE) / CAST(pa.n_orders_part AS DOUBLE) AS confidence,
       CAST(n_ab * n_orders_total AS DOUBLE)
         / CAST(pa.n_orders_part * pc.n_orders_part AS DOUBLE) AS lift
FROM pairs
JOIN per_part pa ON pa.l_partkey = ant
JOIN per_part pc ON pc.l_partkey = cons
CROSS JOIN n_tot
ORDER BY lift DESC, confidence DESC, ant, cons
LIMIT 20
"""

# P78: part-catalog near-dups (type-blocked token Jaccard).
ORACLE["part_catalog_near_dups"] = """
WITH toks AS (
  SELECT p_partkey, p_type,
         list_sort(list_distinct(regexp_split_to_array(
           trim(lower(p_name || ' ' || p_brand || ' ' || p_type)), '\\s+'))) AS t
  FROM part)
SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
       a.p_type AS p_type,
       CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
         / CAST(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS DOUBLE)
         AS jaccard
FROM toks a JOIN toks b
  ON a.p_type = b.p_type AND a.p_partkey < b.p_partkey
WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
        / CAST(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS DOUBLE)
      >= 0.5
ORDER BY part_a, part_b
"""


# R82: ABC / Pareto classification on cumulative revenue share.
ORACLE["part_abc_classification"] = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey),
cum AS (
  SELECT l_partkey, cents,
         CAST(SUM(cents) OVER (ORDER BY -cents, l_partkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents,
         CAST(SUM(cents) OVER () AS BIGINT) AS total
  FROM per_part),
classed AS (
  SELECT *,
         CASE WHEN cum_cents * 100 <= total * 80 THEN 'A'
              WHEN cum_cents * 100 <= total * 95 THEN 'B'
              ELSE 'C' END AS abc
  FROM cum)
SELECT abc,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(cents) AS DOUBLE) / 100.0 AS revenue,
       CAST(SUM(cents) AS DOUBLE) / CAST(MAX(total) AS DOUBLE) AS revenue_share
FROM classed GROUP BY abc ORDER BY abc
"""

# L62: label-noise candidates (centroid cosine below median - 3 MAD).
ORACLE["label_noise_candidates"] = """
WITH cells AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
  FROM embeddings),
cent AS (
  SELECT label, dim, CAST(SUM(xq) AS BIGINT) AS s
  FROM cells GROUP BY 1, 2),
cn AS (
  SELECT label, SUM(CAST(s AS HUGEINT) * s) AS s2 FROM cent GROUP BY label),
mem AS (
  SELECT vec_id, cells.label,
         CAST(FLOOR(CAST(SUM(xq * s) AS DOUBLE)
           / (sqrt(CAST(SUM(xq * xq) AS DOUBLE)) * sqrt(CAST(MAX(s2) AS DOUBLE)))
           * 1000000000.0) AS BIGINT) AS cq
  FROM cells JOIN cent USING (label, dim) JOIN cn USING (label)
  GROUP BY vec_id, cells.label),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY label ORDER BY cq, vec_id) AS BIGINT) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT) AS n
  FROM mem),
med AS (
  SELECT label, cq AS med_cq FROM ranked
  WHERE rn = CAST(CEIL(n / 2.0) AS BIGINT)),
dev AS (
  SELECT mem.vec_id, mem.label, cq, med_cq, ABS(cq - med_cq) AS ad
  FROM mem JOIN med USING (label)),
r2 AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY label ORDER BY ad, vec_id) AS BIGINT) AS rn2,
         CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT) AS n
  FROM dev),
mad AS (
  SELECT label, ad AS mad_cq FROM r2
  WHERE rn2 = CAST(CEIL(n / 2.0) AS BIGINT))
SELECT vec_id, label,
       CAST(cq AS DOUBLE) / 1e9 AS cos_to_centroid,
       CAST(med_cq AS DOUBLE) / 1e9 AS label_median,
       CAST(mad_cq AS DOUBLE) / 1e9 AS label_mad
FROM dev JOIN mad USING (label)
WHERE cq < med_cq - 3 * mad_cq
ORDER BY label, vec_id
"""


# P79: recency-weighted engagement (dyadic weekly decay, exact ints).
ORACLE["recency_weighted_engagement"] = """
WITH anchor AS (
  SELECT CAST(MAX(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS BIGINT) AS d_max
  FROM events),
scored AS (
  SELECT user_id,
         CAST(FLOOR(value * 100.0) AS BIGINT) AS cents,
         LEAST(8, CAST(FLOOR((d_max - date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) / 7) AS BIGINT)) AS w
  FROM events CROSS JOIN anchor),
agg AS (
  SELECT user_id,
         CAST(SUM(cents * (1 << CAST(8 - w AS INT))) AS BIGINT) AS wsum,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM scored GROUP BY user_id)
SELECT user_id, n_events,
       CAST(wsum AS DOUBLE) / 25600.0 AS engagement_score
FROM agg
ORDER BY engagement_score DESC, user_id
LIMIT 20
"""

# P80: dormancy -> reactivation.
ORACLE["dormant_reactivation"] = """
WITH g AS (
  SELECT o_custkey,
         CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS cents,
         CAST(date_diff('day',
              CAST(LAG(o_orderdate) OVER w AS DATE),
              CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_days
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
per AS (
  SELECT o_custkey,
         MAX(gap_days) AS max_gap_days,
         CAST(SUM(CASE WHEN gap_days >= 90 THEN cents ELSE 0 END) AS BIGINT) AS reactivated_cents,
         CAST(SUM(cents) AS BIGINT) AS total_cents,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM g GROUP BY o_custkey)
SELECT o_custkey, n_orders,
       CAST(max_gap_days AS BIGINT) AS max_gap_days,
       CAST(reactivated_cents AS DOUBLE) / 100.0 AS reactivated_spend,
       CAST(total_cents AS DOUBLE) / 100.0 AS total_spend
FROM per WHERE max_gap_days >= 90
ORDER BY max_gap_days DESC, o_custkey
LIMIT 50
"""


# L7h: IVF-PQ with FIXED literal quantizers (similarity.knn_ivfpq_flat)
# — coarse centroids, per-subspace codebooks, and the folded residual
# constants all interpolate as literals from the SAME pq_flat_params
# call the Spark operator uses, so coarse assignment, PQ encode, ADC
# gather scoring, and the exact rerank replay bitwise (same left-fold
# chains, 1-based indexing here).
def _ivfpq_flat_sql(
    nlist: int = 8,
    nprobe: int = 2,
    k: int = 5,
    dim: int = 64,
    m_sub: int = 8,
    ksub: int = 4,
    rerank_factor: int = 4,
    seed: int = 23,
) -> str:
    from dimagi_data_platform_spark.operators.similarity import pq_flat_params

    cents, books, bconst = pq_flat_params(dim, nlist, m_sub, ksub, seed)
    dsub = dim // m_sub
    dcols = ",\n         ".join(
        "(0.0 + "
        + " + ".join(
            f"CAST(embedding[{t + 1}] AS DOUBLE) * ({p!r})"
            for t, p in enumerate(plane)
        )
        + f") AS d{i}"
        for i, plane in enumerate(cents)
    )
    argmax = "CASE " + " ".join(
        "WHEN "
        + " AND ".join(f"d{i} >= d{j}" for j in range(nlist) if j != i)
        + f" THEN {i}"
        for i in range(nlist - 1)
    ) + f" ELSE {nlist - 1} END"
    e_exprs = ",\n         ".join(
        "((0.0 + "
        + " + ".join(
            f"CAST(_v[{m * dsub + t + 1}] AS DOUBLE) * ({books[m][j][t]!r})"
            for t in range(dsub)
        )
        + ") - (CASE list_id "
        + " ".join(
            f"WHEN {li} THEN ({bconst[li][m][j]!r})" for li in range(nlist)
        )
        + f" END)) AS e_{m}_{j}"
        for m in range(m_sub)
        for j in range(ksub)
    )
    code_cols = ",\n         ".join(
        "(CASE "
        + " ".join(
            "WHEN "
            + " AND ".join(
                f"e_{m}_{j} >= e_{m}_{jj}" for jj in range(ksub) if jj != j
            )
            + f" THEN {j}"
            for j in range(ksub - 1)
        )
        + f" ELSE {ksub - 1} END) AS code_{m}"
        for m in range(m_sub)
    )
    lut_cols = ",\n         ".join(
        "(0.0 + "
        + " + ".join(
            f"CAST(embedding[{m * dsub + t + 1}] AS DOUBLE) * ({books[m][j][t]!r})"
            for t in range(dsub)
        )
        + f") AS lut_{m}_{j}"
        for m in range(m_sub)
        for j in range(ksub)
    )
    lut_names = ", ".join(
        f"lut_{m}_{j}" for m in range(m_sub) for j in range(ksub)
    )
    cd_case = "CASE i " + " ".join(
        f"WHEN {i} THEN d{i}" for i in range(nlist)
    ) + " END"
    ilist = ", ".join(str(i) for i in range(nlist))
    adc = "cd + " + " + ".join(
        f"CASE code_{m} "
        + " ".join(f"WHEN {j} THEN lut_{m}_{j}" for j in range(ksub))
        + " END"
        for m in range(m_sub)
    )
    r = rerank_factor * k
    return f"""
WITH base AS (
  SELECT vec_id, embedding,
         {dcols}
  FROM embeddings),
a AS (
  SELECT vec_id AS neighbor_id, embedding AS _v,
         {argmax} AS list_id
  FROM base),
e AS (
  SELECT neighbor_id, list_id,
         {e_exprs}
  FROM a),
enc AS (
  SELECT neighbor_id, list_id,
         {code_cols}
  FROM e),
qd AS (
  SELECT vec_id AS q_id,
         {lut_cols},
         {dcols}
  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10)),
qs AS (
  SELECT q_id, {lut_names}, i AS list_id, {cd_case} AS cd
  FROM qd CROSS JOIN (SELECT unnest([{ilist}]) AS i)),
probes AS (
  SELECT q_id, {lut_names}, list_id, cd
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cd DESC, list_id) AS pr FROM qs)
  WHERE pr <= {nprobe}),
cand AS (
  SELECT q_id, neighbor_id, {adc} AS adc_score
  FROM probes JOIN enc USING (list_id)
  WHERE q_id <> neighbor_id),
surv AS (
  SELECT q_id, neighbor_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_score DESC, neighbor_id) AS rk FROM cand)
  WHERE rk <= {r}),
x AS (
  SELECT s.q_id, s.neighbor_id,
         {_vdot('q.embedding', 'c.embedding')} /
         (sqrt({_vdot('q.embedding', 'q.embedding')}) * sqrt({_vdot('c.embedding', 'c.embedding')})) AS cos_sim
  FROM surv s
  JOIN embeddings c ON c.vec_id = s.neighbor_id
  JOIN embeddings q ON q.vec_id = s.q_id),
rr AS (
  SELECT q_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS "rank"
  FROM x)
SELECT q_id, neighbor_id, cos_sim, "rank" FROM rr WHERE "rank" <= {k}
"""


ORACLE["knn_ivfpq_flat"] = _ivfpq_flat_sql()


# L38b: fixed-vocab Viterbi encode (unigram_lm.unigram_encode_flat) —
# the literal vocab interpolates from the SAME flat_vocab() call the
# Spark operator uses; the packed-integer DP (cost*16 + n_pieces) and
# the first-wins shortest-last-piece backtrack unroll identically, so
# the whole segmentation is exact integer arithmetic on both engines.
def _viterbi_span_ccols(L: int, P: int) -> str:
    """Pivot expressions c_s_l for the flat Viterbi grid (shared by
    the L38b encode twin and the L38e train twin)."""
    return ",\n         ".join(
        f"MAX(CASE WHEN s = {s} AND l = {l} THEN cost END) AS c_{s}_{l}"
        for s in range(1, L + 1)
        for l in range(1, P + 1)
        if s + l - 1 <= L
    )


def _viterbi_layers_sql(pfx: str, grid: str, L: int, P: int, S: int) -> str:
    """The unrolled packed-cost DP + first-wins backtrack as a chain
    of CTEs ``{pfx}d0..{pfx}t{L}`` reading from CTE ``grid`` — the SQL
    twin of operators/unigram_lm._flat_segment, shared by the encode
    and train oracles (CTE names are prefixed so the train twin can
    instantiate one chain per EM iteration)."""

    def c(s: int, l: int) -> str:
        return f"COALESCE(c_{s}_{l} * 16 + 1, {S})"

    layers = [f"{pfx}d0 AS (SELECT *, CAST(0 AS BIGINT) AS best_0 FROM {grid})"]
    for i in range(1, L + 1):
        cands = [
            f"best_{i - l} + {c(i - l + 1, l)}"
            for l in range(1, min(P, i) + 1)
        ]
        best = f"LEAST({', '.join(cands)})" if len(cands) > 1 else cands[0]
        layers.append(
            f"{pfx}d{i} AS (SELECT *, {best} AS best_{i} FROM "
            + (f"{pfx}b{i - 1})" if i > 1 else f"{pfx}d0)")
        )
        bl = "CASE " + " ".join(
            f"WHEN best_{i} = best_{i - l} + {c(i - l + 1, l)} THEN {l}"
            for l in range(1, min(P, i) + 1)
        ) + " END"
        layers.append(f"{pfx}b{i} AS (SELECT *, {bl} AS bl_{i} FROM {pfx}d{i})")
    final_best = "CASE length(w) " + " ".join(
        f"WHEN {i} THEN best_{i}" for i in range(1, L + 1)
    ) + " END"
    layers.append(
        f"{pfx}fb AS (SELECT *, {final_best} AS best FROM {pfx}b{L})"
    )
    layers.append(
        f"{pfx}t0 AS (SELECT *, CAST(length(w) AS INT) AS pos_0,"
        f" '' AS seg_0 FROM {pfx}fb)"
    )
    for k in range(1, L + 1):
        bl_at = "CASE pos_{p} ".format(p=k - 1) + " ".join(
            f"WHEN {i} THEN bl_{i}" for i in range(1, L + 1)
        ) + " ELSE 0 END"
        layers.append(
            f"{pfx}u{k} AS (SELECT *, CASE WHEN pos_{k - 1} > 0 THEN ({bl_at}) "
            f"ELSE 0 END AS lk_{k} FROM {pfx}t{k - 1})"
        )
        piece = f"substr(w, pos_{k - 1} - lk_{k} + 1, lk_{k})"
        layers.append(
            f"{pfx}t{k} AS (SELECT *, CASE WHEN lk_{k} > 0 THEN "
            f"(CASE WHEN seg_{k - 1} = '' THEN {piece} "
            f"ELSE {piece} || ' ' || seg_{k - 1} END) "
            f"ELSE seg_{k - 1} END AS seg_{k}, "
            f"CAST(pos_{k - 1} - lk_{k} AS INT) AS pos_{k} FROM {pfx}u{k})"
        )
    return ",\n".join(layers)


def _unigram_encode_flat_sql(top_n: int = 40) -> str:
    from dimagi_data_platform_spark.operators.unigram_lm import (
        _ENCODE_SENTINEL,
        ENCODE_MAX_PIECE,
        ENCODE_MAX_WORD,
        flat_vocab,
    )

    L, P, S = ENCODE_MAX_WORD, ENCODE_MAX_PIECE, _ENCODE_SENTINEL
    vocab_rows = ", ".join(f"('{p}', {c})" for p, c in flat_vocab())
    ccols = _viterbi_span_ccols(L, P)
    body = _viterbi_layers_sql("", "grid", L, P, S)
    return f"""
WITH words AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        FROM documents)
  WHERE regexp_matches(w, '^[a-z]+$') AND length(w) <= {L}
  GROUP BY w),
vocab(piece, cost) AS (VALUES {vocab_rows}),
spans AS (
  SELECT w, freq, CAST(u.s AS INT) AS s, CAST(v.l AS INT) AS l,
         substr(w, CAST(u.s AS INT), CAST(v.l AS INT)) AS piece
  FROM words,
       UNNEST(range(1, length(w) + 1)) AS u(s),
       UNNEST(range(1, least({P}, length(w) - CAST(u.s AS INT) + 1) + 1)) AS v(l)),
costed AS (
  SELECT spans.*, vocab.cost FROM spans JOIN vocab USING (piece)),
grid AS (
  SELECT w, freq, {ccols}
  FROM costed GROUP BY w, freq),
{body}
SELECT w, freq,
       CAST(best // 16 AS BIGINT) AS total_cost,
       CAST(best % 16 AS BIGINT) AS n_pieces,
       seg_{L} AS pieces
FROM t{L}
ORDER BY freq DESC, w
LIMIT {top_n}
"""


ORACLE["unigram_viterbi_encode"] = _unigram_encode_flat_sql()


def _unigram_train_unrolled_sql(
    vocab_size: int = 100, n_iter: int = 2, max_candidates: int = 2000
) -> str:
    """L38e twin: the FULL unrolled hard-EM recurrence of
    operators/unigram_lm.unigram_train_unrolled — candidate init, then
    per iteration one flat-Viterbi DP chain (one _viterbi_layers_sql
    instantiation per EM pass, prefixed i{k}_) under costs
    lnq(total) − lnq(weight) re-derived from the previous counts, with
    the weight-1 alphabet fallback, then the final vocab projection.
    ln is only ever taken of an INTEGER (the cross-engine fixed-point
    lnq discipline). Word/piece CTEs are MATERIALIZED — each is read
    by several downstream CTEs and DuckDB's default inlining would
    re-evaluate the span pivots once per reference."""
    from dimagi_data_platform_spark.operators.unigram_lm import (
        _ENCODE_SENTINEL,
        ENCODE_MAX_PIECE,
        ENCODE_MAX_WORD,
    )

    L, P, S = ENCODE_MAX_WORD, ENCODE_MAX_PIECE, _ENCODE_SENTINEL
    ccols = _viterbi_span_ccols(L, P)
    lnq = "CAST(FLOOR(ln({x}) * 1000000.0) AS BIGINT)"
    parts = [
        f"""words AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        FROM documents)
  WHERE regexp_matches(w, '^[a-z]+$') AND length(w) <= {L}
  GROUP BY w)""",
        f"""cand AS MATERIALIZED (
  SELECT piece, CAST(SUM(freq) AS BIGINT) AS weight
  FROM (SELECT substr(w, CAST(u.s AS INT), CAST(v.l AS INT)) AS piece, freq
        FROM words,
             UNNEST(range(1, length(w) + 1)) AS u(s),
             UNNEST(range(1, least({P}, length(w) - CAST(u.s AS INT) + 1) + 1))
               AS v(l))
  GROUP BY piece)""",
        """alpha AS MATERIALIZED (SELECT piece FROM cand WHERE length(piece) = 1)""",
        f"""c0 AS MATERIALIZED (
  SELECT piece, weight FROM cand WHERE length(piece) = 1
  UNION ALL
  SELECT piece, weight FROM (
    SELECT piece, weight FROM cand WHERE length(piece) > 1
    ORDER BY weight DESC, piece LIMIT {max_candidates}))""",
    ]
    for k in range(n_iter):
        pfx = f"i{k}_"
        parts.append(
            f"""{pfx}vocab AS MATERIALIZED (
  SELECT piece,
         {lnq.format(x=f'(SELECT SUM(weight) FROM c{k})')}
           - {lnq.format(x='weight')} AS cost
  FROM c{k})"""
        )
        parts.append(
            f"""{pfx}costed AS (
  SELECT s.w, s.freq, s.s, s.l, v.cost
  FROM (SELECT w, freq, CAST(u.s AS INT) AS s, CAST(v.l AS INT) AS l,
               substr(w, CAST(u.s AS INT), CAST(v.l AS INT)) AS piece
        FROM words,
             UNNEST(range(1, length(w) + 1)) AS u(s),
             UNNEST(range(1, least({P}, length(w) - CAST(u.s AS INT) + 1) + 1))
               AS v(l)) s
  JOIN {pfx}vocab v USING (piece))"""
        )
        parts.append(
            f"""{pfx}grid AS MATERIALIZED (
  SELECT w, freq, {ccols}
  FROM {pfx}costed GROUP BY w, freq)"""
        )
        parts.append(_viterbi_layers_sql(pfx, f"{pfx}grid", L, P, S))
        parts.append(
            f"""{pfx}counts AS (
  SELECT piece, CAST(SUM(freq) AS BIGINT) AS weight
  FROM (SELECT unnest(string_split(seg_{L}, ' ')) AS piece, freq
        FROM {pfx}t{L})
  GROUP BY piece)"""
        )
        parts.append(
            f"""c{k + 1} AS MATERIALIZED (
  SELECT piece, weight FROM {pfx}counts
  UNION ALL
  SELECT piece, CAST(1 AS BIGINT) AS weight FROM alpha
  WHERE piece NOT IN (SELECT piece FROM {pfx}counts))"""
        )
    parts.append(
        f"""fin AS (
  SELECT c.piece, c.weight AS piece_count,
         {lnq.format(x='c.weight')}
           - {lnq.format(x=f'(SELECT SUM(weight) FROM c{n_iter})')} AS logp
  FROM c{n_iter} c)"""
    )
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT piece, piece_count, CAST(logp AS BIGINT) AS logp FROM (
  SELECT piece, piece_count, logp FROM fin WHERE length(piece) = 1
  UNION ALL
  SELECT piece, piece_count, logp FROM (
    SELECT piece, piece_count, logp FROM fin WHERE length(piece) > 1
    ORDER BY piece_count DESC, piece LIMIT {vocab_size}))
ORDER BY piece_count DESC, piece
"""


ORACLE["unigram_tokenizer_train_unrolled"] = _unigram_train_unrolled_sql()


# L63: Gopher/C4 rule-based quality filtering. Every metric is an
# exact integer (milli-ratios via integer floor division — DuckDB //
# mirrors Spark DIV for the non-negative operands here), so the hash
# gate is trivial; booleans mirror the Spark rule expressions op for op.
ORACLE["gopher_quality_rules"] = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
  FROM documents),
per_term AS (
  SELECT doc_id, w, COUNT(*) AS tf FROM toks WHERE length(w) > 0
  GROUP BY doc_id, w),
stats AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_words,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         CAST(MAX(tf) AS BIGINT) AS top_tf
  FROM per_term GROUP BY doc_id),
base AS (
  SELECT doc_id,
         CAST(length(regexp_replace(trim(lower(text)), '\s+', '', 'g'))
              AS BIGINT) AS n_nospace,
         CAST(len(regexp_extract_all(lower(text),
              '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) AS n_stop
  FROM documents),
j AS (
  SELECT s.doc_id, n_words, n_distinct, top_tf, n_nospace, n_stop,
         CAST((1000 * n_nospace) // n_words AS BIGINT) AS mean_wl_milli,
         CAST((1000 * top_tf) // n_words AS BIGINT) AS top_share_milli,
         CAST((1000 * n_distinct) // n_words AS BIGINT) AS distinct_milli
  FROM stats s JOIN base USING (doc_id))
SELECT doc_id, n_words, mean_wl_milli, top_share_milli, distinct_milli,
       n_stop,
       (n_words >= 20 AND n_words <= 120) AS wc_ok,
       (mean_wl_milli >= 2500 AND mean_wl_milli <= 8500) AS mwl_ok,
       (top_share_milli <= 200) AS rep_ok,
       (distinct_milli >= 300) AS div_ok,
       (n_stop >= 2) AS stop_ok,
       ((n_words >= 20 AND n_words <= 120)
        AND (mean_wl_milli >= 2500 AND mean_wl_milli <= 8500)
        AND top_share_milli <= 200
        AND distinct_milli >= 300
        AND n_stop >= 2) AS keep
FROM j
"""


# L64: Flesch-shape readability. Counts are exact integers; spw and the
# score are the same left-associated IEEE chain as the Spark columns.
ORACLE["doc_readability"] = r"""
WITH x AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
              AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(lower(text), '[aeiou]+'))
              AS BIGINT) AS n_syllables
  FROM documents)
SELECT doc_id, n_words, n_syllables,
       CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE) AS spw,
       206.835 - 1.015 * CAST(n_words AS DOUBLE)
         - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
         AS flesch_score
FROM x WHERE n_words > 0
"""


# P81: leave-one-out target encoding. Cent sums are exact integers;
# loo_mean is one mirrored IEEE division, NULL for singleton segments.
ORACLE["segment_target_encoding"] = """
WITH c AS (
  SELECT c_custkey, c_mktsegment,
         CAST(FLOOR(CAST(c_acctbal AS DOUBLE) * 100.0) AS BIGINT) AS cents
  FROM customer),
seg AS (
  SELECT c_mktsegment, CAST(SUM(cents) AS BIGINT) AS s_g,
         CAST(COUNT(*) AS BIGINT) AS n_g
  FROM c GROUP BY c_mktsegment)
SELECT c_custkey, c.c_mktsegment,
       CAST(cents AS DOUBLE) / 100.0 AS acctbal,
       CASE WHEN n_g > 1
            THEN CAST(s_g - cents AS DOUBLE)
                 / (100.0 * CAST(n_g - 1 AS DOUBLE))
            ELSE NULL END AS loo_mean
FROM c JOIN seg USING (c_mktsegment)
"""


# R83: Kruskal-Wallis H across the five priorities. Exact integer
# doubled midranks (2*cum_before + cnt + 1) on the per-value prefix
# sum — the R65 backbone generalized to k groups; H / tie-corrected H
# mirror the Spark left-associated float chain over exact scalars.
ORACLE["order_value_kruskal_wallis"] = """
WITH per AS (
  SELECT o_totalprice AS v,
    SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS g0,
    SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS g1,
    SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS g2,
    SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END)
      AS g3,
    SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS g4
  FROM orders GROUP BY v),
c AS (
  SELECT v, g0, g1, g2, g3, g4,
         g0 + g1 + g2 + g3 + g4 AS cnt,
         SUM(g0 + g1 + g2 + g3 + g4) OVER (ORDER BY v) AS cum_t
  FROM per),
m AS (
  SELECT *, CAST(2 * (cum_t - cnt) + cnt + 1 AS HUGEINT) AS two_mid
  FROM c),
s AS (
  SELECT
    CAST(SUM(g0) AS BIGINT) AS n0, CAST(SUM(g1) AS BIGINT) AS n1,
    CAST(SUM(g2) AS BIGINT) AS n2, CAST(SUM(g3) AS BIGINT) AS n3,
    CAST(SUM(g4) AS BIGINT) AS n4,
    SUM(CAST(g0 AS HUGEINT) * two_mid) AS two_r0,
    SUM(CAST(g1 AS HUGEINT) * two_mid) AS two_r1,
    SUM(CAST(g2 AS HUGEINT) * two_mid) AS two_r2,
    SUM(CAST(g3 AS HUGEINT) * two_mid) AS two_r3,
    SUM(CAST(g4 AS HUGEINT) * two_mid) AS two_r4,
    SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS s_ties
  FROM m),
h AS (
  SELECT n0, n1, n2, n3, n4, s_ties,
    CAST(n0 + n1 + n2 + n3 + n4 AS DOUBLE) AS nd,
    CASE WHEN n0 > 0 THEN (CAST(two_r0 AS DOUBLE) / 2.0) * (CAST(two_r0 AS DOUBLE) / 2.0)
      / CAST(n0 AS DOUBLE) ELSE 0.0 END
    + CASE WHEN n1 > 0 THEN (CAST(two_r1 AS DOUBLE) / 2.0) * (CAST(two_r1 AS DOUBLE) / 2.0)
      / CAST(n1 AS DOUBLE) ELSE 0.0 END
    + CASE WHEN n2 > 0 THEN (CAST(two_r2 AS DOUBLE) / 2.0) * (CAST(two_r2 AS DOUBLE) / 2.0)
      / CAST(n2 AS DOUBLE) ELSE 0.0 END
    + CASE WHEN n3 > 0 THEN (CAST(two_r3 AS DOUBLE) / 2.0) * (CAST(two_r3 AS DOUBLE) / 2.0)
      / CAST(n3 AS DOUBLE) ELSE 0.0 END
    + CASE WHEN n4 > 0 THEN (CAST(two_r4 AS DOUBLE) / 2.0) * (CAST(two_r4 AS DOUBLE) / 2.0)
      / CAST(n4 AS DOUBLE) ELSE 0.0 END AS a
  FROM s),
o AS (
  SELECT n0, n1, n2, n3, n4,
    12.0 / (nd * (nd + 1.0)) * a - 3.0 * (nd + 1.0) AS h_stat,
    CASE WHEN nd * nd * nd - nd <> 0.0
         THEN 1.0 - CAST(s_ties AS DOUBLE) / (nd * nd * nd - nd)
    END AS tie_c
  FROM h)
SELECT n0, n1, n2, n3, n4, h_stat, tie_c,
       CASE WHEN tie_c <> 0.0 THEN h_stat / tie_c END AS h_corrected
FROM o
"""


# R84: one-way ANOVA F. Per-group n / cent-sum / sum-of-squares are
# exact integers from ONE conditional-aggregate row; SSB/SSW/F mirror
# the Spark left-associated float chain over those exact scalars.
ORACLE["order_value_anova"] = """
WITH v AS (
  SELECT o_orderpriority,
         CAST(FLOOR(CAST(o_totalprice AS DOUBLE) * 100.0) AS BIGINT) AS v
  FROM orders),
tot AS (
  SELECT
    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
         AS BIGINT) AS n0,
    CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)
         AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)
         AS BIGINT) AS n2,
    CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0
         END) AS BIGINT) AS n3,
    CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)
         AS BIGINT) AS n4,
    SUM(CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN v ELSE 0 END
        AS HUGEINT)) AS s0,
    SUM(CAST(CASE WHEN o_orderpriority = '2-HIGH' THEN v ELSE 0 END
        AS HUGEINT)) AS s1,
    SUM(CAST(CASE WHEN o_orderpriority = '3-MEDIUM' THEN v ELSE 0 END
        AS HUGEINT)) AS s2,
    SUM(CAST(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN v ELSE 0
        END AS HUGEINT)) AS s3,
    SUM(CAST(CASE WHEN o_orderpriority = '5-LOW' THEN v ELSE 0 END
        AS HUGEINT)) AS s4,
    SUM(CAST(v AS HUGEINT) * v) AS ss
  FROM v),
d AS (
  SELECT n0 + n1 + n2 + n3 + n4 AS n,
    CAST(n0 + n1 + n2 + n3 + n4 AS DOUBLE) AS nd,
    CAST(s0 + s1 + s2 + s3 + s4 AS DOUBLE) AS sd,
    CASE WHEN n0 > 0 THEN CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) ELSE 0.0 END
    + CASE WHEN n1 > 0 THEN CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) ELSE 0.0 END
    + CASE WHEN n2 > 0 THEN CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) ELSE 0.0 END
    + CASE WHEN n3 > 0 THEN CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE) / CAST(n3 AS DOUBLE) ELSE 0.0 END
    + CASE WHEN n4 > 0 THEN CAST(s4 AS DOUBLE) * CAST(s4 AS DOUBLE) / CAST(n4 AS DOUBLE) ELSE 0.0 END
      AS a_term,
    CAST(ss AS DOUBLE) AS ssd
  FROM tot),
o AS (
  SELECT CAST(n AS BIGINT) AS n,
    a_term - sd * sd / nd AS ssb,
    ssd - a_term AS ssw, nd
  FROM d)
SELECT n, ssb, ssw,
       CASE WHEN ssw <> 0.0
            THEN (ssb / 4.0) / (ssw / (nd - 5.0)) END AS f_stat
FROM o
"""


# L65: KMV distinct sketch rollup. Hashes are exact integers (15-hex
# md5 prefix), the merge is set-union + re-take-k-smallest, and the
# estimate is one mirrored IEEE chain — the whole sketch lifecycle
# hash-checks, unlike HLL binaries.
ORACLE["segment_distinct_kmv"] = """
WITH per AS (
  SELECT DISTINCT c_mktsegment, c_nationkey,
         CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM customer),
cell AS (
  SELECT c_mktsegment, h,
         row_number() OVER (PARTITION BY c_mktsegment, c_nationkey
                            ORDER BY h) AS rk
  FROM per),
sketch AS (
  SELECT DISTINCT c_mktsegment, h FROM cell WHERE rk <= 64),
seg AS (
  SELECT c_mktsegment, h,
         row_number() OVER (PARTITION BY c_mktsegment ORDER BY h) AS rk
  FROM sketch),
merged AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_sketch,
         CAST(MAX(h) AS BIGINT) AS kth_hash
  FROM seg WHERE rk <= 64 GROUP BY c_mktsegment),
exact AS (
  SELECT c_mktsegment,
         CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS exact_customers
  FROM customer GROUP BY c_mktsegment)
SELECT m.c_mktsegment, n_sketch, kth_hash,
       CASE WHEN n_sketch < 64 THEN CAST(n_sketch AS DOUBLE)
            ELSE 63.0 / (CAST(kth_hash AS DOUBLE) / 1152921504606846976.0)
       END AS approx_customers,
       exact_customers
FROM merged m JOIN exact USING (c_mktsegment)
ORDER BY c_mktsegment
"""


# R85: Mann-Kendall + Theil-Sen off one day-pair grid. S and the tie
# term are exact integers; var/z are the mirrored IEEE chain; the
# median slope is the rank-at-ceil pick on the (value, num, den)
# deterministic total order.
ORACLE["daily_trend_test"] = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1),
pairs AS (
  SELECT a.day AS day_a, b.day AS day_b,
         b.c - a.c AS dc,
         CAST(date_diff('day', a.day, b.day) AS BIGINT) AS dd
  FROM daily a JOIN daily b ON a.day < b.day),
s AS (
  SELECT CAST(SUM(CASE WHEN dc > 0 THEN 1 WHEN dc < 0 THEN -1 ELSE 0 END)
              AS BIGINT) AS s_stat,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM pairs),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
ties AS (
  SELECT CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY c)),
ranked AS (
  SELECT CAST(dc AS DOUBLE) / CAST(dd AS DOUBLE) AS slope, dc, dd,
         row_number() OVER (
           ORDER BY CAST(dc AS DOUBLE) / CAST(dd AS DOUBLE), dc, dd) AS rk
  FROM pairs),
med AS (
  SELECT slope AS theil_sen_slope, dc AS slope_num, dd AS slope_den
  FROM ranked, s WHERE rk * 2 >= n_pairs ORDER BY rk LIMIT 1),
v AS (
  SELECT s.s_stat, s.n_pairs, nd.n_days, ties.tie_term,
         (CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0)
            * (2.0 * CAST(n_days AS DOUBLE) + 5.0)
          - CAST(tie_term AS DOUBLE)) / 18.0 AS var_s
  FROM s, nd, ties)
SELECT n_days, n_pairs, s_stat, var_s,
       CASE WHEN s_stat > 0
              THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_s)
            WHEN s_stat < 0
              THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_s)
            ELSE 0.0 END AS z_stat,
       theil_sen_slope, slope_num, slope_den
FROM v, med
"""


# R86: Brown-Forsythe on cent-exact absolute deviations from per-group
# lower medians (the R83 prefix-sum backbone + the R84 one-row
# conditional aggregate); W is the mirrored IEEE chain.
ORACLE["order_value_levene"] = """
WITH v AS (
  SELECT o_orderpriority,
         CAST(FLOOR(CAST(o_totalprice AS DOUBLE) * 100.0) AS BIGINT) AS v
  FROM orders),
per AS (
  SELECT v,
    SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS g0,
    SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS g1,
    SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS g2,
    SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END)
      AS g3,
    SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS g4
  FROM v GROUP BY v),
c AS (
  SELECT v,
         SUM(g0) OVER (ORDER BY v) AS cum_g0,
         SUM(g1) OVER (ORDER BY v) AS cum_g1,
         SUM(g2) OVER (ORDER BY v) AS cum_g2,
         SUM(g3) OVER (ORDER BY v) AS cum_g3,
         SUM(g4) OVER (ORDER BY v) AS cum_g4
  FROM per),
tot AS (
  SELECT CAST(SUM(g0) AS BIGINT) AS n0, CAST(SUM(g1) AS BIGINT) AS n1,
         CAST(SUM(g2) AS BIGINT) AS n2, CAST(SUM(g3) AS BIGINT) AS n3,
         CAST(SUM(g4) AS BIGINT) AS n4
  FROM per),
meds AS (
  SELECT CAST(MIN(CASE WHEN 2 * cum_g0 >= n0 THEN v END) AS BIGINT) AS med0,
         CAST(MIN(CASE WHEN 2 * cum_g1 >= n1 THEN v END) AS BIGINT) AS med1,
         CAST(MIN(CASE WHEN 2 * cum_g2 >= n2 THEN v END) AS BIGINT) AS med2,
         CAST(MIN(CASE WHEN 2 * cum_g3 >= n3 THEN v END) AS BIGINT) AS med3,
         CAST(MIN(CASE WHEN 2 * cum_g4 >= n4 THEN v END) AS BIGINT) AS med4
  FROM c, tot),
dev AS (
  SELECT o_orderpriority,
         ABS(v - CASE o_orderpriority
                   WHEN '1-URGENT' THEN med0
                   WHEN '2-HIGH' THEN med1
                   WHEN '3-MEDIUM' THEN med2
                   WHEN '4-NOT SPECIFIED' THEN med3
                   WHEN '5-LOW' THEN med4 END) AS z
  FROM v, meds),
t2 AS (
  SELECT
    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
         AS BIGINT) AS n0,
    CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)
         AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)
         AS BIGINT) AS n2,
    CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0
         END) AS BIGINT) AS n3,
    CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)
         AS BIGINT) AS n4,
    SUM(CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN z ELSE 0 END
        AS HUGEINT)) AS s0,
    SUM(CAST(CASE WHEN o_orderpriority = '2-HIGH' THEN z ELSE 0 END
        AS HUGEINT)) AS s1,
    SUM(CAST(CASE WHEN o_orderpriority = '3-MEDIUM' THEN z ELSE 0 END
        AS HUGEINT)) AS s2,
    SUM(CAST(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN z ELSE 0
        END AS HUGEINT)) AS s3,
    SUM(CAST(CASE WHEN o_orderpriority = '5-LOW' THEN z ELSE 0 END
        AS HUGEINT)) AS s4,
    SUM(CAST(z AS HUGEINT) * z) AS ss
  FROM dev),
d AS (
  SELECT n0 + n1 + n2 + n3 + n4 AS n,
    CAST(n0 + n1 + n2 + n3 + n4 AS DOUBLE) AS nd,
    CAST(s0 + s1 + s2 + s3 + s4 AS DOUBLE) AS sd,
    CASE WHEN n0 > 0 THEN CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) ELSE 0.0 END
    + CASE WHEN n1 > 0 THEN CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) ELSE 0.0 END
    + CASE WHEN n2 > 0 THEN CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) ELSE 0.0 END
    + CASE WHEN n3 > 0 THEN CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE) / CAST(n3 AS DOUBLE) ELSE 0.0 END
    + CASE WHEN n4 > 0 THEN CAST(s4 AS DOUBLE) * CAST(s4 AS DOUBLE) / CAST(n4 AS DOUBLE) ELSE 0.0 END
      AS a_term,
    CAST(ss AS DOUBLE) AS ssd
  FROM t2)
SELECT CAST(n AS BIGINT) AS n, med0, med1, med2, med3, med4,
       a_term - sd * sd / nd AS ssb_z,
       ssd - a_term AS ssw_z,
       CASE WHEN ssd - a_term <> 0.0
            THEN ((a_term - sd * sd / nd) / 4.0)
                 / ((ssd - a_term) / (nd - 5.0))
       END AS w_stat
FROM d, meds
"""


# P82: explicit Bloom-filter membership probe — positions via the
# two-md5-halves double hash, all counts exact, one IEEE division.
ORACLE["arrears_bloom_probe"] = """
WITH members AS (
  SELECT c_custkey FROM customer WHERE c_acctbal < 0),
mh AS (
  SELECT c_custkey,
         CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))
              AS BIGINT) AS h1,
         CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 16, 15))
              AS BIGINT) AS h2
  FROM members),
bits AS (
  SELECT DISTINCT (h1 + i * h2) % 16384 AS pos
  FROM mh, UNNEST([0, 1, 2]) AS u(i)),
oh AS (
  SELECT o_orderkey, o_custkey,
         CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
              AS BIGINT) AS h1,
         CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 16, 15))
              AS BIGINT) AS h2
  FROM orders),
probed AS (
  SELECT o_orderkey
  FROM (SELECT o_orderkey, (h1 + i * h2) % 16384 AS pos
        FROM oh, UNNEST([0, 1, 2]) AS u(i)) p
  JOIN bits USING (pos)
  GROUP BY o_orderkey HAVING COUNT(*) = 3),
truth AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM members)),
counts AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_orders,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM members) AS n_members,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM probed) AS n_flagged,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true)
SELECT n_orders, n_members, n_bits_set, n_flagged, n_true,
       n_flagged - n_true AS n_false_pos,
       CASE WHEN n_orders - n_true > 0
            THEN CAST(n_flagged - n_true AS DOUBLE)
                 / CAST(n_orders - n_true AS DOUBLE)
       END AS fp_rate
FROM counts
"""


# L7i: SQ-flat ANN with the literal scale 1.7/127 — quantize, integer
# dot, two-level-lossless candidate top-R, and the exact cosine rerank
# all replay bitwise (the candidate pre-filter is lossless under the
# (int_score, neighbor_id) total order, so the oracle takes the global
# top-R directly).
def _sq_flat_sql(k: int = 5, rerank_factor: int = 4, dim: int = 64) -> str:
    s = 1.7 / 127.0
    r = rerank_factor * k

    def code(src: str) -> str:
        return (
            f"list_transform({src}, x -> GREATEST(-127, LEAST(127, "
            f"CAST(round(CAST(x AS DOUBLE) / {s!r}) AS INT))))"
        )

    idot = "(CAST(0 AS BIGINT) + " + " + ".join(
        f"CAST(q_code[{i}] AS BIGINT) * CAST(c_code[{i}] AS BIGINT)"
        for i in range(1, dim + 1)
    ) + ")"
    return f"""
WITH c AS (
  SELECT vec_id AS neighbor_id, embedding AS c_vec,
         {code('embedding')} AS c_code
  FROM embeddings),
q AS (
  SELECT vec_id AS q_id, embedding AS q_vec,
         {code('embedding')} AS q_code
  FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q_id, neighbor_id, q_vec, c_vec, {idot} AS int_score
  FROM q CROSS JOIN c WHERE q_id <> neighbor_id),
cand AS (
  SELECT q_id, neighbor_id, q_vec, c_vec FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY q_id ORDER BY int_score DESC, neighbor_id) AS crk
    FROM scored)
  WHERE crk <= {r}),
ex AS (
  SELECT q_id, neighbor_id, {_COS_QC} AS cos_sim FROM cand),
rr AS (
  SELECT q_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT)
           AS "rank"
  FROM ex)
SELECT q_id, neighbor_id, cos_sim, "rank" FROM rr WHERE "rank" <= {k}
"""


ORACLE["knn_sq_flat"] = _sq_flat_sql()


# P84: t-closeness — EMD over ordered $1000 acctbal bands on exact
# cross-multiplied integer cumulative counts; one closing IEEE
# division per QI group.
ORACLE["t_closeness_audit"] = """
WITH base AS (
  SELECT c_nationkey,
         CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT) AS band
  FROM customer),
cell AS (
  SELECT c_nationkey, band, CAST(COUNT(*) AS BIGINT) AS n_cell
  FROM base GROUP BY c_nationkey, band),
gband AS (
  SELECT band, CAST(COUNT(*) AS BIGINT) AS n_band FROM base GROUP BY band),
nations AS (
  SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_g
  FROM base GROUP BY c_nationkey),
tot AS (
  SELECT CAST(SUM(n_band) AS BIGINT) AS n_tot,
         CAST(COUNT(*) AS BIGINT) AS n_bands
  FROM gband),
gcum AS (
  SELECT band,
         CAST(SUM(n_band) OVER (ORDER BY band
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tot
  FROM gband),
grid AS (
  SELECT n.c_nationkey, n.n_g, g.band, g.cum_tot,
         COALESCE(c.n_cell, 0) AS n_cell
  FROM nations n CROSS JOIN gcum g
  LEFT JOIN cell c ON c.c_nationkey = n.c_nationkey AND c.band = g.band),
dev AS (
  SELECT c_nationkey, n_g, band, cum_tot, n_cell,
         CAST(SUM(n_cell) OVER (PARTITION BY c_nationkey ORDER BY band
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_g
  FROM grid),
per AS (
  SELECT c_nationkey, n_g, n_tot, n_bands,
         CAST(SUM(ABS(cum_g * n_tot - cum_tot * n_g)) AS BIGINT) AS emd_num
  FROM dev CROSS JOIN tot
  GROUP BY c_nationkey, n_g, n_tot, n_bands)
SELECT c_nationkey, n_g, emd_num,
       CASE WHEN n_bands > 1
            THEN CAST(emd_num AS DOUBLE)
                 / CAST(n_g * n_tot * (n_bands - 1) AS DOUBLE)
       END AS t_emd,
       (CASE WHEN n_bands > 1
             THEN CAST(emd_num AS DOUBLE)
                  / CAST(n_g * n_tot * (n_bands - 1) AS DOUBLE)
        END) > 0.15 AS is_risky
FROM per
ORDER BY c_nationkey
"""


# L66: exact tie-aware ROC AUC via the Mann-Whitney midrank backbone
# (score = the L9 quality chain; label = lang = 'en'); U and AUC are
# the mirrored closing IEEE chain.
ORACLE["auc_quality_lang"] = f"""
WITH x AS (
  SELECT lang,
    CAST({_NWORDS} AS BIGINT) AS n_words,
    CAST(len(regexp_extract_all(text, '{_PUNCT_RE}')) AS DOUBLE) / length(text) AS punct_ratio,
    CAST(len(regexp_extract_all(lower(text), '{_STOP}')) AS DOUBLE) / {_NWORDS} AS stopword_ratio
  FROM documents),
sc AS (
  SELECT 0.4 * stopword_ratio + 0.3 * (1.0 - punct_ratio)
           + 0.3 * LEAST(1.0, n_words / 100.0) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_pos
  FROM x),
per AS (
  SELECT s, SUM(is_pos) AS p, SUM(1 - is_pos) AS q FROM sc GROUP BY s),
c AS (
  SELECT s, p, q, SUM(p + q) OVER (ORDER BY s) AS cum_t FROM per),
agg AS (
  SELECT CAST(SUM(p) AS BIGINT) AS n_pos, CAST(SUM(q) AS BIGINT) AS n_neg,
         SUM(CAST(p AS HUGEINT)
             * (2 * (cum_t - (p + q)) + (p + q) + 1)) AS two_r_pos
  FROM c),
u AS (
  SELECT n_pos, n_neg,
         CAST(two_r_pos AS DOUBLE) / 2.0
           - (CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0)) / 2.0
           AS u_stat
  FROM agg)
SELECT n_pos, n_neg, u_stat,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN u_stat / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
       END AS auc
FROM u
"""


# L67: calibration table — exact counts, qsum-style integer score
# sums, short mirrored IEEE chain for mean/rate/gap.
ORACLE["quality_calibration_bins"] = f"""
WITH x AS (
  SELECT lang,
    CAST({_NWORDS} AS BIGINT) AS n_words,
    CAST(len(regexp_extract_all(text, '{_PUNCT_RE}')) AS DOUBLE) / length(text) AS punct_ratio,
    CAST(len(regexp_extract_all(lower(text), '{_STOP}')) AS DOUBLE) / {_NWORDS} AS stopword_ratio
  FROM documents),
sc AS (
  SELECT 0.4 * stopword_ratio + 0.3 * (1.0 - punct_ratio)
           + 0.3 * LEAST(1.0, n_words / 100.0) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_pos
  FROM x),
b AS (
  SELECT LEAST(9, CAST(FLOOR(s * 10.0) AS BIGINT)) AS bin, s, is_pos
  FROM sc),
agg AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(is_pos) AS BIGINT) AS n_pos,
         SUM(CAST(FLOOR(s * 1000000.0) AS HUGEINT)) AS sq
  FROM b GROUP BY bin)
SELECT bin, n, n_pos,
       CAST(sq AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) AS mean_score,
       CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS observed_rate,
       ABS(CAST(sq AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)
           - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)) AS calib_gap
FROM agg ORDER BY bin
"""


# R87: synchronous deterministic LPA, 3 unrolled rounds — the
# identical (count DESC, label ASC) adoption recurrence.
def _lpa_sql(n_rounds: int = 3) -> str:
    ctes = [
        """lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)""",
        """e0 AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)""",
        """e AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM e0
  UNION ALL SELECT v AS src, u AS dst FROM e0)""",
        """l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM e)""",
    ]
    for k in range(1, n_rounds + 1):
        ctes.append(
            f"""n{k} AS MATERIALIZED (
  SELECT e.src, l.lbl AS nlbl, COUNT(*) AS cnt
  FROM e JOIN l{k - 1} l ON l.id = e.dst
  GROUP BY e.src, l.lbl)"""
        )
        ctes.append(
            f"""l{k} AS MATERIALIZED (
  SELECT src AS id, nlbl AS lbl FROM (
    SELECT src, nlbl,
           ROW_NUMBER() OVER (PARTITION BY src
                              ORDER BY cnt DESC, nlbl ASC) AS rk
    FROM n{k})
  WHERE rk = 1)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members
FROM l{n_rounds} GROUP BY lbl
ORDER BY n_members DESC, community ASC LIMIT 20"""
    )


ORACLE["copurchase_communities"] = _lpa_sql()


# L68: collocations — exact window-pair/unigram counts, one IEEE
# division for lift, deterministic (lift, a, b) top-20.
ORACLE["term_collocations"] = r"""
WITH toks AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents),
p AS (
  SELECT LEAST(t[u.i], t[u.i + 1]) AS a, GREATEST(t[u.i], t[u.i + 1]) AS b
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
  UNION ALL
  SELECT LEAST(t[u.i], t[u.i + 2]), GREATEST(t[u.i], t[u.i + 2])
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)),
pc AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_pair FROM p GROUP BY a, b),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM p),
uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w)
SELECT pc.a, pc.b, n_pair, ua.c AS c_a, ub.c AS c_b,
       CAST(n_pair * n_tot AS DOUBLE) / CAST(ua.c * ub.c AS DOUBLE) AS lift
FROM pc
JOIN uni ua ON ua.w = pc.a
JOIN uni ub ON ub.w = pc.b
CROSS JOIN tot
WHERE n_pair >= 5
ORDER BY lift DESC, a, b LIMIT 20
"""


# R16c: VARIANT path extraction — the oracle reads the same JSON
# path; all aggregates exact integers.
ORACLE["props_variant_extract"] = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS n_with_k,
       CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS sum_k,
       CAST(MAX(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS max_k
FROM events
GROUP BY user_id
ORDER BY user_id
"""


# P86: row-pattern matching over the per-user symbol string — same
# string (total order), same leftmost-greedy regex semantics.
ORACLE["event_pattern_match"] = """
WITH seqs AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS seq
  FROM events GROUP BY user_id)
SELECT user_id,
       CAST(length(seq) AS BIGINT) AS seq_len,
       CAST(len(regexp_extract_all(seq, 's[^e]*c[^e]*p')) AS BIGINT)
         AS n_matches,
       COALESCE(regexp_extract(seq, 's[^e]*c[^e]*p'), '') AS first_match
FROM seqs
WHERE len(regexp_extract_all(seq, 's[^e]*c[^e]*p')) > 0
ORDER BY user_id
"""


# P88: PSI drift — fixed 20-bin spec, Laplace smoothing, exact
# cross-multiplied integer difference x fixed-point lnq ratio; the
# total re-quantizes contributions to nanos so the cross-bin sum is
# integer (order-independent).
ORACLE["order_value_psi_drift"] = """
WITH tagged AS (
  SELECT LEAST(19, CAST(FLOOR(CAST(o_totalprice AS DOUBLE) / 30000.0)
               AS BIGINT)) AS bin,
         (o_orderdate < TIMESTAMP '1997-01-01') AS is_base
  FROM orders),
per AS (
  SELECT bin,
         CAST(SUM(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         CAST(SUM(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS n_curr
  FROM tagged GROUP BY bin),
grid AS (
  SELECT CAST(u.b AS BIGINT) AS bin,
         COALESCE(n_base, 0) AS n_base, COALESCE(n_curr, 0) AS n_curr
  FROM UNNEST(range(0, 20)) AS u(b) LEFT JOIN per ON per.bin = u.b),
tot AS (
  SELECT CAST(SUM(n_base) AS BIGINT) AS np,
         CAST(SUM(n_curr) AS BIGINT) AS nq
  FROM grid),
c AS (
  SELECT bin, n_base, n_curr,
         CAST((n_base + 1) * (nq + 20) AS HUGEINT) AS num,
         CAST((n_curr + 1) * (np + 20) AS HUGEINT) AS den,
         CAST(np + 20 AS HUGEINT) * (nq + 20) AS big_d
  FROM grid CROSS JOIN tot),
o AS (
  SELECT bin, n_base, n_curr,
         CAST((num - den)
              * (CAST(FLOOR(ln(CAST(num AS DOUBLE)) * 1000000.0) AS HUGEINT)
                 - CAST(FLOOR(ln(CAST(den AS DOUBLE)) * 1000000.0) AS HUGEINT))
              AS DOUBLE)
           / (CAST(big_d AS DOUBLE) * 1000000.0) AS contrib_psi
  FROM c),
t AS (
  SELECT CAST(SUM(CAST(FLOOR(contrib_psi * 1000000000.0) AS BIGINT))
              AS BIGINT) AS psi_nano
  FROM o)
SELECT bin, n_base, n_curr, contrib_psi,
       CAST(psi_nano AS DOUBLE) / 1000000000.0 AS psi_total
FROM o CROSS JOIN t
ORDER BY bin
"""


# L69: feature hashing — two-md5-halves index/sign, exact integer
# signed counts, sparse output.
ORACLE["doc_feature_hashing"] = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
  FROM documents),
h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 64 AS feat_idx,
         (CAST(('0x' || substr(md5(w), 16, 15)) AS BIGINT) % 2) * 2 - 1
           AS sign
  FROM toks WHERE length(w) > 0)
SELECT doc_id, feat_idx, CAST(SUM(sign) AS BIGINT) AS weight
FROM h GROUP BY doc_id, feat_idx
HAVING SUM(sign) <> 0
ORDER BY doc_id, feat_idx
"""


# R88: deterministic Poisson bootstrap — md5-uniform inverse-CDF
# weights, exact integer weighted sums, rank-at-ceil CI selection.
ORACLE["daily_revenue_bootstrap_ci"] = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) AS BIGINT) AS vq
  FROM events GROUP BY 1),
d2 AS (
  SELECT CAST(date_diff('day', TIMESTAMP '1970-01-01', day) AS BIGINT)
           AS ed, vq
  FROM daily),
reps AS (
  SELECT ed, vq, CAST(u.b AS BIGINT) AS b,
         CAST(CAST(('0x' || substr(md5(CAST(ed AS VARCHAR) || '#'
              || CAST(u.b AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
           / 1152921504606846976.0 AS u
  FROM d2, UNNEST(range(0, 100)) AS u(b)),
wts AS (
  SELECT b, vq,
         CASE WHEN u < 0.36787944117144233 THEN 0
              WHEN u < 0.7357588823428847 THEN 1
              WHEN u < 0.9196986029286058 THEN 2
              WHEN u < 0.9810118431238463 THEN 3
              WHEN u < 0.9963401531726563 THEN 4
              WHEN u < 0.9994058151824183 THEN 5
              WHEN u < 0.999916758850712 THEN 6
              ELSE 7 END AS w
  FROM reps),
boot AS (
  SELECT b, CAST(SUM(w * vq) AS BIGINT) AS swv,
         CAST(SUM(w) AS BIGINT) AS sw
  FROM wts GROUP BY b HAVING SUM(w) > 0),
bm AS (
  SELECT b, CAST(swv AS DOUBLE) / CAST(sw AS DOUBLE) / 100.0 AS boot_mean
  FROM boot),
nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_boot FROM bm),
ranked AS (
  SELECT boot_mean,
         CAST(ROW_NUMBER() OVER (ORDER BY boot_mean, b) AS BIGINT) AS rk
  FROM bm),
ci AS (
  SELECT MIN(CASE WHEN rk * 40 >= n_boot THEN boot_mean END) AS ci_lo,
         MIN(CASE WHEN rk * 40 >= 39 * n_boot THEN boot_mean END) AS ci_hi,
         MAX(n_boot) AS n_boot
  FROM ranked CROSS JOIN nb),
pt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(vq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0
           AS point_mean
  FROM daily)
SELECT n_days, n_boot, point_mean, ci_lo, ci_hi
FROM pt CROSS JOIN ci
"""


# L70: quantile normalization — within-source rank, integer ceil
# target rank, pooled rank->value join; identical total orders.
ORACLE["source_quantile_normalize"] = """
WITH d AS (
  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_chars
  FROM documents),
r AS (
  SELECT doc_id, source, n_chars,
         CAST(ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY n_chars, doc_id) AS BIGINT) AS src_rank,
         CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_src,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_tot
  FROM d),
p AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
           AS pool_rank,
         n_chars AS norm_chars
  FROM d)
SELECT doc_id, source, n_chars, src_rank, norm_chars
FROM r JOIN p
  ON p.pool_rank = (src_rank * n_tot + n_src - 1) // n_src
ORDER BY doc_id
"""


# R89: MoM/YoY metric layer — exact cent deltas, calendar-aligned YoY
# join, NULL-guarded single-division growth.
ORACLE["monthly_revenue_pop"] = """
WITH monthly AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
         CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS mo,
         CAST(SUM(CAST(FLOOR(CAST(o_totalprice AS DOUBLE) * 100.0)
              AS BIGINT)) AS BIGINT) AS rev_cents
  FROM orders GROUP BY 1, 2),
cur AS (
  SELECT *, LAG(rev_cents) OVER (ORDER BY yr, mo) AS prev_cents
  FROM monthly),
g AS (
  SELECT c.*, y.rev_cents AS yoy_cents
  FROM cur c LEFT JOIN monthly y ON y.yr = c.yr - 1 AND y.mo = c.mo)
SELECT yr, mo,
       CAST(rev_cents AS DOUBLE) / 100.0 AS revenue,
       CAST(rev_cents - prev_cents AS BIGINT) AS mom_delta_cents,
       CASE WHEN prev_cents IS NOT NULL AND prev_cents <> 0
            THEN CAST(rev_cents - prev_cents AS DOUBLE)
                 / CAST(prev_cents AS DOUBLE) END AS mom_growth,
       CAST(rev_cents - yoy_cents AS BIGINT) AS yoy_delta_cents,
       CASE WHEN yoy_cents IS NOT NULL AND yoy_cents <> 0
            THEN CAST(rev_cents - yoy_cents AS DOUBLE)
                 / CAST(yoy_cents AS DOUBLE) END AS yoy_growth
FROM g ORDER BY yr, mo
"""


# P90: CUPED — pooled theta from exact integer moments, per-variant
# adjusted means, SRM chi-square; mirrored IEEE chains.
ORACLE["cuped_experiment_analysis"] = """
WITH per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
              THEN CAST(FLOOR(value * 100.0) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
              THEN CAST(FLOOR(value * 100.0) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY user_id),
u AS (
  SELECT *,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 2 AS variant
  FROM per_user),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         SUM(CAST(CASE WHEN variant = 0 THEN x ELSE 0 END AS HUGEINT)) AS sx0,
         SUM(CAST(CASE WHEN variant = 0 THEN y ELSE 0 END AS HUGEINT)) AS sy0
  FROM u),
s AS (
  SELECT *,
         CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0
              THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         END AS theta,
         CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS xbar
  FROM agg),
v AS (
  SELECT CAST(0 AS BIGINT) AS variant, n0 AS n_users,
         CAST(sy0 AS DOUBLE) AS syv, CAST(sx0 AS DOUBLE) AS sxv, s.*
  FROM s
  UNION ALL
  SELECT CAST(1 AS BIGINT), n - n0,
         CAST(sy - sy0 AS DOUBLE), CAST(sx - sx0 AS DOUBLE), s.*
  FROM s)
SELECT variant, CAST(n_users AS BIGINT) AS n_users,
       CASE WHEN n_users > 0
            THEN syv / CAST(n_users AS DOUBLE) / 100.0 END AS mean_y,
       CASE WHEN n_users > 0
            THEN syv / CAST(n_users AS DOUBLE) / 100.0
                 - theta * (sxv / CAST(n_users AS DOUBLE) / 100.0 - xbar)
       END AS mean_y_cuped,
       theta,
       (CAST(n0 AS DOUBLE) - CAST(n - n0 AS DOUBLE))
         * (CAST(n0 AS DOUBLE) - CAST(n - n0 AS DOUBLE))
         / CAST(n AS DOUBLE) AS srm_chi2
FROM v ORDER BY variant
"""


# R90: linear-interpolation gapfill — bracketing via IGNORE NULLS
# window endpoints, exact integer cents/gaps, one IEEE chain per day.
ORACLE["daily_value_lerp"] = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) AS BIGINT) AS vq
  FROM events GROUP BY 1, 2),
span AS (
  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
  FROM daily GROUP BY user_id),
spine AS (
  SELECT user_id, CAST(u.d AS TIMESTAMP) AS day
  FROM span, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS u(d)),
j AS (
  SELECT s.user_id, s.day, d.vq
  FROM spine s LEFT JOIN daily d USING (user_id, day)),
m AS (
  SELECT user_id, day, vq IS NOT NULL AS observed,
         LAST_VALUE(vq IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_prev,
         LAST_VALUE(CASE WHEN vq IS NOT NULL THEN day END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS d_prev,
         FIRST_VALUE(vq IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_next,
         FIRST_VALUE(CASE WHEN vq IS NOT NULL THEN day END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS d_next
  FROM j)
SELECT user_id, day, observed,
       CASE WHEN date_diff('day', d_prev, d_next) = 0
            THEN CAST(v_prev AS DOUBLE) / 100.0
            ELSE (CAST(v_prev AS DOUBLE)
                  + CAST(v_next - v_prev AS DOUBLE)
                    * (CAST(date_diff('day', d_prev, day) AS DOUBLE)
                       / CAST(date_diff('day', d_prev, d_next) AS DOUBLE)))
                 / 100.0
       END AS lerp_value
FROM m
ORDER BY user_id, day
"""


# R91: DDSketch-shape quantiles — literal ln/exp factors, exact
# mergeable bucket counts, exact rank-at-ceil value + realized error.
# L17c: deterministic md5-HLL with the exactness band — estimate,
# exact distinct, realized rel. error all replay bitwise (exact dyadic
# register sums; ln only from literal lookups; fixed IEEE op order).
ORACLE["hll_distinct_eval"] = """
WITH el AS (
  SELECT DISTINCT date_trunc('month', o_orderdate) AS month,
         CAST(o_custkey AS VARCHAR) AS k
  FROM orders),
rr AS (
  SELECT month,
         CAST(('0x' || substr(md5(k), 1, 2)) AS BIGINT) AS reg,
         CAST(('0x' || substr(md5(k), 3, 13)) AS BIGINT) AS w
  FROM el),
regs AS (
  SELECT month, reg,
         MAX(CASE WHEN w = 0 THEN 53
                  ELSE 53 - length(bin(w)) END) AS mj
  FROM rr GROUP BY month, reg),
per AS (
  SELECT month,
         CAST(SUM(CAST(1 AS BIGINT) << CAST(53 - mj AS INT)) AS BIGINT)
           AS s_scaled,
         CAST(COUNT(*) AS BIGINT) AS occupied
  FROM regs GROUP BY month),
ex AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
  FROM orders GROUP BY 1),
stage AS (
  SELECT month, s_scaled,
         CAST(256 - occupied AS BIGINT) AS v_empty,
         CAST(0.7182725932495458 AS DOUBLE) * CAST(65536.0 AS DOUBLE) * CAST(9007199254740992.0 AS DOUBLE)
           / CAST(s_scaled + (CAST(256 AS BIGINT) - occupied)
                  * CAST(9007199254740992 AS BIGINT) AS DOUBLE) AS raw_est
  FROM per),
est AS (
  SELECT month, v_empty,
         CASE WHEN raw_est <= CAST(640.0 AS DOUBLE) AND v_empty > 0
              THEN CAST(256.0 AS DOUBLE) * (CAST(5.545177444479562 AS DOUBLE) - (CASE CAST(v_empty AS INT) WHEN 1 THEN CAST(0.0 AS DOUBLE) WHEN 2 THEN CAST(0.6931471805599453 AS DOUBLE) WHEN 3 THEN CAST(1.0986122886681098 AS DOUBLE) WHEN 4 THEN CAST(1.3862943611198906 AS DOUBLE) WHEN 5 THEN CAST(1.6094379124341003 AS DOUBLE) WHEN 6 THEN CAST(1.791759469228055 AS DOUBLE) WHEN 7 THEN CAST(1.9459101490553132 AS DOUBLE) WHEN 8 THEN CAST(2.0794415416798357 AS DOUBLE) WHEN 9 THEN CAST(2.1972245773362196 AS DOUBLE) WHEN 10 THEN CAST(2.302585092994046 AS DOUBLE) WHEN 11 THEN CAST(2.3978952727983707 AS DOUBLE) WHEN 12 THEN CAST(2.4849066497880004 AS DOUBLE) WHEN 13 THEN CAST(2.5649493574615367 AS DOUBLE) WHEN 14 THEN CAST(2.6390573296152584 AS DOUBLE) WHEN 15 THEN CAST(2.70805020110221 AS DOUBLE) WHEN 16 THEN CAST(2.772588722239781 AS DOUBLE) WHEN 17 THEN CAST(2.833213344056216 AS DOUBLE) WHEN 18 THEN CAST(2.8903717578961645 AS DOUBLE) WHEN 19 THEN CAST(2.9444389791664403 AS DOUBLE) WHEN 20 THEN CAST(2.995732273553991 AS DOUBLE) WHEN 21 THEN CAST(3.044522437723423 AS DOUBLE) WHEN 22 THEN CAST(3.091042453358316 AS DOUBLE) WHEN 23 THEN CAST(3.1354942159291497 AS DOUBLE) WHEN 24 THEN CAST(3.1780538303479458 AS DOUBLE) WHEN 25 THEN CAST(3.2188758248682006 AS DOUBLE) WHEN 26 THEN CAST(3.258096538021482 AS DOUBLE) WHEN 27 THEN CAST(3.295836866004329 AS DOUBLE) WHEN 28 THEN CAST(3.332204510175204 AS DOUBLE) WHEN 29 THEN CAST(3.367295829986474 AS DOUBLE) WHEN 30 THEN CAST(3.4011973816621555 AS DOUBLE) WHEN 31 THEN CAST(3.4339872044851463 AS DOUBLE) WHEN 32 THEN CAST(3.4657359027997265 AS DOUBLE) WHEN 33 THEN CAST(3.4965075614664802 AS DOUBLE) WHEN 34 THEN CAST(3.5263605246161616 AS DOUBLE) WHEN 35 THEN CAST(3.5553480614894135 AS DOUBLE) WHEN 36 THEN CAST(3.58351893845611 AS DOUBLE) WHEN 37 THEN CAST(3.6109179126442243 AS DOUBLE) WHEN 38 THEN CAST(3.6375861597263857 AS DOUBLE) WHEN 39 THEN CAST(3.6635616461296463 AS DOUBLE) WHEN 40 THEN CAST(3.6888794541139363 AS DOUBLE) WHEN 41 THEN CAST(3.713572066704308 AS DOUBLE) WHEN 42 THEN CAST(3.7376696182833684 AS DOUBLE) WHEN 43 THEN CAST(3.7612001156935624 AS DOUBLE) WHEN 44 THEN CAST(3.784189633918261 AS DOUBLE) WHEN 45 THEN CAST(3.8066624897703196 AS DOUBLE) WHEN 46 THEN CAST(3.828641396489095 AS DOUBLE) WHEN 47 THEN CAST(3.8501476017100584 AS DOUBLE) WHEN 48 THEN CAST(3.871201010907891 AS DOUBLE) WHEN 49 THEN CAST(3.8918202981106265 AS DOUBLE) WHEN 50 THEN CAST(3.912023005428146 AS DOUBLE) WHEN 51 THEN CAST(3.9318256327243257 AS DOUBLE) WHEN 52 THEN CAST(3.9512437185814275 AS DOUBLE) WHEN 53 THEN CAST(3.970291913552122 AS DOUBLE) WHEN 54 THEN CAST(3.9889840465642745 AS DOUBLE) WHEN 55 THEN CAST(4.007333185232471 AS DOUBLE) WHEN 56 THEN CAST(4.02535169073515 AS DOUBLE) WHEN 57 THEN CAST(4.04305126783455 AS DOUBLE) WHEN 58 THEN CAST(4.060443010546419 AS DOUBLE) WHEN 59 THEN CAST(4.07753744390572 AS DOUBLE) WHEN 60 THEN CAST(4.0943445622221 AS DOUBLE) WHEN 61 THEN CAST(4.110873864173311 AS DOUBLE) WHEN 62 THEN CAST(4.127134385045092 AS DOUBLE) WHEN 63 THEN CAST(4.143134726391533 AS DOUBLE) WHEN 64 THEN CAST(4.1588830833596715 AS DOUBLE) WHEN 65 THEN CAST(4.174387269895637 AS DOUBLE) WHEN 66 THEN CAST(4.189654742026425 AS DOUBLE) WHEN 67 THEN CAST(4.204692619390966 AS DOUBLE) WHEN 68 THEN CAST(4.219507705176107 AS DOUBLE) WHEN 69 THEN CAST(4.23410650459726 AS DOUBLE) WHEN 70 THEN CAST(4.248495242049359 AS DOUBLE) WHEN 71 THEN CAST(4.2626798770413155 AS DOUBLE) WHEN 72 THEN CAST(4.276666119016055 AS DOUBLE) WHEN 73 THEN CAST(4.290459441148391 AS DOUBLE) WHEN 74 THEN CAST(4.30406509320417 AS DOUBLE) WHEN 75 THEN CAST(4.31748811353631 AS DOUBLE) WHEN 76 THEN CAST(4.330733340286331 AS DOUBLE) WHEN 77 THEN CAST(4.343805421853684 AS DOUBLE) WHEN 78 THEN CAST(4.356708826689592 AS DOUBLE) WHEN 79 THEN CAST(4.3694478524670215 AS DOUBLE) WHEN 80 THEN CAST(4.382026634673881 AS DOUBLE) WHEN 81 THEN CAST(4.394449154672439 AS DOUBLE) WHEN 82 THEN CAST(4.406719247264253 AS DOUBLE) WHEN 83 THEN CAST(4.418840607796598 AS DOUBLE) WHEN 84 THEN CAST(4.430816798843313 AS DOUBLE) WHEN 85 THEN CAST(4.442651256490317 AS DOUBLE) WHEN 86 THEN CAST(4.454347296253507 AS DOUBLE) WHEN 87 THEN CAST(4.465908118654584 AS DOUBLE) WHEN 88 THEN CAST(4.477336814478207 AS DOUBLE) WHEN 89 THEN CAST(4.48863636973214 AS DOUBLE) WHEN 90 THEN CAST(4.499809670330265 AS DOUBLE) WHEN 91 THEN CAST(4.51085950651685 AS DOUBLE) WHEN 92 THEN CAST(4.5217885770490405 AS DOUBLE) WHEN 93 THEN CAST(4.532599493153256 AS DOUBLE) WHEN 94 THEN CAST(4.543294782270004 AS DOUBLE) WHEN 95 THEN CAST(4.553876891600541 AS DOUBLE) WHEN 96 THEN CAST(4.564348191467836 AS DOUBLE) WHEN 97 THEN CAST(4.574710978503383 AS DOUBLE) WHEN 98 THEN CAST(4.584967478670572 AS DOUBLE) WHEN 99 THEN CAST(4.59511985013459 AS DOUBLE) WHEN 100 THEN CAST(4.605170185988092 AS DOUBLE) WHEN 101 THEN CAST(4.61512051684126 AS DOUBLE) WHEN 102 THEN CAST(4.624972813284271 AS DOUBLE) WHEN 103 THEN CAST(4.634728988229636 AS DOUBLE) WHEN 104 THEN CAST(4.6443908991413725 AS DOUBLE) WHEN 105 THEN CAST(4.653960350157523 AS DOUBLE) WHEN 106 THEN CAST(4.663439094112067 AS DOUBLE) WHEN 107 THEN CAST(4.672828834461906 AS DOUBLE) WHEN 108 THEN CAST(4.68213122712422 AS DOUBLE) WHEN 109 THEN CAST(4.6913478822291435 AS DOUBLE) WHEN 110 THEN CAST(4.700480365792417 AS DOUBLE) WHEN 111 THEN CAST(4.709530201312334 AS DOUBLE) WHEN 112 THEN CAST(4.718498871295094 AS DOUBLE) WHEN 113 THEN CAST(4.727387818712341 AS DOUBLE) WHEN 114 THEN CAST(4.736198448394496 AS DOUBLE) WHEN 115 THEN CAST(4.74493212836325 AS DOUBLE) WHEN 116 THEN CAST(4.7535901911063645 AS DOUBLE) WHEN 117 THEN CAST(4.762173934797756 AS DOUBLE) WHEN 118 THEN CAST(4.770684624465665 AS DOUBLE) WHEN 119 THEN CAST(4.77912349311153 AS DOUBLE) WHEN 120 THEN CAST(4.787491742782046 AS DOUBLE) WHEN 121 THEN CAST(4.795790545596741 AS DOUBLE) WHEN 122 THEN CAST(4.804021044733257 AS DOUBLE) WHEN 123 THEN CAST(4.812184355372417 AS DOUBLE) WHEN 124 THEN CAST(4.820281565605037 AS DOUBLE) WHEN 125 THEN CAST(4.8283137373023015 AS DOUBLE) WHEN 126 THEN CAST(4.836281906951478 AS DOUBLE) WHEN 127 THEN CAST(4.844187086458591 AS DOUBLE) WHEN 128 THEN CAST(4.852030263919617 AS DOUBLE) WHEN 129 THEN CAST(4.859812404361672 AS DOUBLE) WHEN 130 THEN CAST(4.867534450455582 AS DOUBLE) WHEN 131 THEN CAST(4.875197323201151 AS DOUBLE) WHEN 132 THEN CAST(4.882801922586371 AS DOUBLE) WHEN 133 THEN CAST(4.890349128221754 AS DOUBLE) WHEN 134 THEN CAST(4.897839799950911 AS DOUBLE) WHEN 135 THEN CAST(4.90527477843843 AS DOUBLE) WHEN 136 THEN CAST(4.912654885736052 AS DOUBLE) WHEN 137 THEN CAST(4.919980925828125 AS DOUBLE) WHEN 138 THEN CAST(4.927253685157205 AS DOUBLE) WHEN 139 THEN CAST(4.9344739331306915 AS DOUBLE) WHEN 140 THEN CAST(4.941642422609304 AS DOUBLE) WHEN 141 THEN CAST(4.948759890378168 AS DOUBLE) WHEN 142 THEN CAST(4.955827057601261 AS DOUBLE) WHEN 143 THEN CAST(4.962844630259907 AS DOUBLE) WHEN 144 THEN CAST(4.969813299576001 AS DOUBLE) WHEN 145 THEN CAST(4.976733742420574 AS DOUBLE) WHEN 146 THEN CAST(4.983606621708336 AS DOUBLE) WHEN 147 THEN CAST(4.990432586778736 AS DOUBLE) WHEN 148 THEN CAST(4.997212273764115 AS DOUBLE) WHEN 149 THEN CAST(5.003946305945459 AS DOUBLE) WHEN 150 THEN CAST(5.0106352940962555 AS DOUBLE) WHEN 151 THEN CAST(5.017279836814924 AS DOUBLE) WHEN 152 THEN CAST(5.0238805208462765 AS DOUBLE) WHEN 153 THEN CAST(5.030437921392435 AS DOUBLE) WHEN 154 THEN CAST(5.0369526024136295 AS DOUBLE) WHEN 155 THEN CAST(5.043425116919247 AS DOUBLE) WHEN 156 THEN CAST(5.049856007249537 AS DOUBLE) WHEN 157 THEN CAST(5.056245805348308 AS DOUBLE) WHEN 158 THEN CAST(5.062595033026967 AS DOUBLE) WHEN 159 THEN CAST(5.0689042022202315 AS DOUBLE) WHEN 160 THEN CAST(5.075173815233827 AS DOUBLE) WHEN 161 THEN CAST(5.081404364984463 AS DOUBLE) WHEN 162 THEN CAST(5.087596335232384 AS DOUBLE) WHEN 163 THEN CAST(5.093750200806762 AS DOUBLE) WHEN 164 THEN CAST(5.099866427824199 AS DOUBLE) WHEN 165 THEN CAST(5.10594547390058 AS DOUBLE) WHEN 166 THEN CAST(5.111987788356544 AS DOUBLE) WHEN 167 THEN CAST(5.117993812416755 AS DOUBLE) WHEN 168 THEN CAST(5.123963979403259 AS DOUBLE) WHEN 169 THEN CAST(5.1298987149230735 AS DOUBLE) WHEN 170 THEN CAST(5.135798437050262 AS DOUBLE) WHEN 171 THEN CAST(5.14166355650266 AS DOUBLE) WHEN 172 THEN CAST(5.147494476813453 AS DOUBLE) WHEN 173 THEN CAST(5.153291594497779 AS DOUBLE) WHEN 174 THEN CAST(5.159055299214529 AS DOUBLE) WHEN 175 THEN CAST(5.1647859739235145 AS DOUBLE) WHEN 176 THEN CAST(5.170483995038151 AS DOUBLE) WHEN 177 THEN CAST(5.176149732573829 AS DOUBLE) WHEN 178 THEN CAST(5.181783550292085 AS DOUBLE) WHEN 179 THEN CAST(5.187385805840755 AS DOUBLE) WHEN 180 THEN CAST(5.19295685089021 AS DOUBLE) WHEN 181 THEN CAST(5.198497031265826 AS DOUBLE) WHEN 182 THEN CAST(5.204006687076795 AS DOUBLE) WHEN 183 THEN CAST(5.209486152841421 AS DOUBLE) WHEN 184 THEN CAST(5.214935757608986 AS DOUBLE) WHEN 185 THEN CAST(5.220355825078324 AS DOUBLE) WHEN 186 THEN CAST(5.225746673713202 AS DOUBLE) WHEN 187 THEN CAST(5.231108616854587 AS DOUBLE) WHEN 188 THEN CAST(5.236441962829949 AS DOUBLE) WHEN 189 THEN CAST(5.241747015059643 AS DOUBLE) WHEN 190 THEN CAST(5.247024072160486 AS DOUBLE) WHEN 191 THEN CAST(5.25227342804663 AS DOUBLE) WHEN 192 THEN CAST(5.2574953720277815 AS DOUBLE) WHEN 193 THEN CAST(5.262690188904886 AS DOUBLE) WHEN 194 THEN CAST(5.267858159063328 AS DOUBLE) WHEN 195 THEN CAST(5.272999558563747 AS DOUBLE) WHEN 196 THEN CAST(5.278114659230517 AS DOUBLE) WHEN 197 THEN CAST(5.2832037287379885 AS DOUBLE) WHEN 198 THEN CAST(5.288267030694535 AS DOUBLE) WHEN 199 THEN CAST(5.293304824724492 AS DOUBLE) WHEN 200 THEN CAST(5.298317366548036 AS DOUBLE) WHEN 201 THEN CAST(5.303304908059076 AS DOUBLE) WHEN 202 THEN CAST(5.308267697401205 AS DOUBLE) WHEN 203 THEN CAST(5.313205979041787 AS DOUBLE) WHEN 204 THEN CAST(5.318119993844216 AS DOUBLE) WHEN 205 THEN CAST(5.3230099791384085 AS DOUBLE) WHEN 206 THEN CAST(5.327876168789581 AS DOUBLE) WHEN 207 THEN CAST(5.332718793265369 AS DOUBLE) WHEN 208 THEN CAST(5.337538079701318 AS DOUBLE) WHEN 209 THEN CAST(5.342334251964811 AS DOUBLE) WHEN 210 THEN CAST(5.3471075307174685 AS DOUBLE) WHEN 211 THEN CAST(5.351858133476067 AS DOUBLE) WHEN 212 THEN CAST(5.356586274672012 AS DOUBLE) WHEN 213 THEN CAST(5.3612921657094255 AS DOUBLE) WHEN 214 THEN CAST(5.365976015021851 AS DOUBLE) WHEN 215 THEN CAST(5.3706380281276624 AS DOUBLE) WHEN 216 THEN CAST(5.375278407684165 AS DOUBLE) WHEN 217 THEN CAST(5.37989735354046 AS DOUBLE) WHEN 218 THEN CAST(5.384495062789089 AS DOUBLE) WHEN 219 THEN CAST(5.389071729816501 AS DOUBLE) WHEN 220 THEN CAST(5.393627546352362 AS DOUBLE) WHEN 221 THEN CAST(5.3981627015177525 AS DOUBLE) WHEN 222 THEN CAST(5.402677381872279 AS DOUBLE) WHEN 223 THEN CAST(5.407171771460119 AS DOUBLE) WHEN 224 THEN CAST(5.4116460518550396 AS DOUBLE) WHEN 225 THEN CAST(5.41610040220442 AS DOUBLE) WHEN 226 THEN CAST(5.420534999272286 AS DOUBLE) WHEN 227 THEN CAST(5.424950017481403 AS DOUBLE) WHEN 228 THEN CAST(5.429345628954441 AS DOUBLE) WHEN 229 THEN CAST(5.43372200355424 AS DOUBLE) WHEN 230 THEN CAST(5.438079308923196 AS DOUBLE) WHEN 231 THEN CAST(5.442417710521793 AS DOUBLE) WHEN 232 THEN CAST(5.44673737166631 AS DOUBLE) WHEN 233 THEN CAST(5.4510384535657 AS DOUBLE) WHEN 234 THEN CAST(5.455321115357702 AS DOUBLE) WHEN 235 THEN CAST(5.459585514144159 AS DOUBLE) WHEN 236 THEN CAST(5.4638318050256105 AS DOUBLE) WHEN 237 THEN CAST(5.4680601411351315 AS DOUBLE) WHEN 238 THEN CAST(5.472270673671475 AS DOUBLE) WHEN 239 THEN CAST(5.476463551931511 AS DOUBLE) WHEN 240 THEN CAST(5.480638923341991 AS DOUBLE) WHEN 241 THEN CAST(5.484796933490655 AS DOUBLE) WHEN 242 THEN CAST(5.488937726156687 AS DOUBLE) WHEN 243 THEN CAST(5.493061443340548 AS DOUBLE) WHEN 244 THEN CAST(5.497168225293202 AS DOUBLE) WHEN 245 THEN CAST(5.501258210544727 AS DOUBLE) WHEN 246 THEN CAST(5.5053315359323625 AS DOUBLE) WHEN 247 THEN CAST(5.5093883366279774 AS DOUBLE) WHEN 248 THEN CAST(5.5134287461649825 AS DOUBLE) WHEN 249 THEN CAST(5.517452896464707 AS DOUBLE) WHEN 250 THEN CAST(5.521460917862246 AS DOUBLE) WHEN 251 THEN CAST(5.5254529391317835 AS DOUBLE) WHEN 252 THEN CAST(5.529429087511423 AS DOUBLE) WHEN 253 THEN CAST(5.53338948872752 AS DOUBLE) WHEN 254 THEN CAST(5.537334267018537 AS DOUBLE) WHEN 255 THEN CAST(5.541263545158426 AS DOUBLE) END))
              ELSE raw_est END AS est_distinct
  FROM stage)
SELECT est.month, est_distinct, exact_distinct,
       est_distinct / CAST(exact_distinct AS DOUBLE) - 1.0 AS rel_err,
       v_empty
FROM est JOIN ex ON ex.month = est.month
"""


# L17d: deterministic md5-Bernoulli-sampled quantiles with the
# exactness band — value-grain counts + running sums on both paths.
ORACLE["quantile_sample_eval"] = """
WITH base AS MATERIALIZED (
  SELECT o_orderpriority AS g, o_totalprice AS v,
         CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
              AS BIGINT) % 100 AS h
  FROM orders),
samp AS MATERIALIZED (SELECT g, v FROM base WHERE h < 20),
est AS (
  SELECT g, q, n AS n_sample, MIN(v) AS est_value
  FROM (
    SELECT per.g, per.v, per.cum, pr.q, pr.n,
           (pr.q * pr.n + 99) // 100 AS target
    FROM (
      SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(COUNT(*)) OVER (PARTITION BY g ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      FROM samp GROUP BY g, v) per
    JOIN (
      SELECT g, CAST(SUM(c2) AS BIGINT) AS n, UNNEST([50, 90, 99]) AS q
      FROM (SELECT g, CAST(COUNT(*) AS BIGINT) AS c2 FROM samp GROUP BY g, v)
      GROUP BY g) pr
    ON pr.g = per.g)
  WHERE cum >= target
  GROUP BY g, q, n),
ex AS (
  SELECT g, q, n AS n_total, MIN(v) AS exact_value
  FROM (
    SELECT per.g, per.v, per.cum, pr.q, pr.n,
           (pr.q * pr.n + 99) // 100 AS target
    FROM (
      SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(COUNT(*)) OVER (PARTITION BY g ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      FROM base GROUP BY g, v) per
    JOIN (
      SELECT g, CAST(SUM(c2) AS BIGINT) AS n, UNNEST([50, 90, 99]) AS q
      FROM (SELECT g, CAST(COUNT(*) AS BIGINT) AS c2 FROM base GROUP BY g, v)
      GROUP BY g) pr
    ON pr.g = per.g)
  WHERE cum >= target
  GROUP BY g, q, n)
SELECT ex.g AS o_orderpriority, ex.q, n_total, n_sample, est_value,
       exact_value,
       CASE WHEN exact_value > 0 THEN
         CAST(est_value AS DOUBLE) / CAST(exact_value AS DOUBLE) - 1.0
       END AS rel_err
FROM ex LEFT JOIN est ON est.g = ex.g AND est.q = ex.q
"""


# L17e: order-invariant Misra-Gries (batch "Frequent" summary) over 32
# md5 shards with the exactness band — est, exact, realized
# underestimate and the theoretical bound all replay bitwise.
ORACLE["mg_heavy_hitter_eval"] = """
WITH t AS MATERIALIZED (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS k,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
           % 32 AS shard
  FROM documents),
per AS MATERIALIZED (
  SELECT shard, k, CAST(COUNT(*) AS BIGINT) AS c
  FROM t GROUP BY shard, k),
ranked AS (
  SELECT shard, k, c,
         ROW_NUMBER() OVER (PARTITION BY shard ORDER BY c DESC, k) AS rk
  FROM per),
thr AS MATERIALIZED (
  SELECT shard, c AS thr FROM ranked WHERE rk = 65),
partials AS (
  SELECT ranked.k, ranked.c - COALESCE(thr.thr, 0) AS p
  FROM ranked LEFT JOIN thr USING (shard)
  WHERE rk <= 64 AND ranked.c - COALESCE(thr.thr, 0) > 0),
est AS (SELECT k, CAST(SUM(p) AS BIGINT) AS est_count FROM partials GROUP BY k),
ex AS (SELECT k, CAST(SUM(c) AS BIGINT) AS exact_count FROM per GROUP BY k),
bound AS (SELECT CAST(COALESCE(SUM(thr), 0) AS BIGINT) AS bound_total FROM thr)
SELECT est.k AS term, est_count, exact_count,
       CAST(exact_count - est_count AS BIGINT) AS underestimate,
       bound_total
FROM est JOIN ex ON ex.k = est.k CROSS JOIN bound
ORDER BY est_count DESC, term
LIMIT 20
"""


# L37b: mergeable-rollup companion — fine-grain register sketches,
# register-wise MAX union-merge to the coarse grain (no key rescan),
# then the same deterministic estimator as hll_distinct_eval.
ORACLE["hll_union_rollup_eval"] = """
WITH el AS (
  SELECT DISTINCT c_mktsegment AS seg, c_nationkey AS nat,
         CAST(c_custkey AS VARCHAR) AS k
  FROM customer),
rr AS (
  SELECT seg, nat,
         CAST(('0x' || substr(md5(k), 1, 2)) AS BIGINT) AS reg,
         CAST(('0x' || substr(md5(k), 3, 13)) AS BIGINT) AS w
  FROM el),
fine AS MATERIALIZED (
  SELECT seg, nat, reg,
         MAX(CASE WHEN w = 0 THEN 53
                  ELSE 53 - length(bin(w)) END) AS mj
  FROM rr GROUP BY seg, nat, reg),
ns AS (
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_fine_sketches
  FROM (SELECT DISTINCT seg, nat FROM fine) GROUP BY seg),
merged AS (
  SELECT seg, reg, MAX(mj) AS mj FROM fine GROUP BY seg, reg),
per AS (
  SELECT seg,
         CAST(SUM(CAST(1 AS BIGINT) << CAST(53 - mj AS INT)) AS BIGINT)
           AS s_scaled,
         CAST(COUNT(*) AS BIGINT) AS occupied
  FROM merged GROUP BY seg),
ex AS (
  SELECT c_mktsegment AS seg,
         CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS exact_distinct
  FROM customer GROUP BY 1),
stage AS (
  SELECT seg, s_scaled,
         CAST(256 - occupied AS BIGINT) AS v_empty,
         CAST(0.7182725932495458 AS DOUBLE) * CAST(65536.0 AS DOUBLE)
           * CAST(9007199254740992.0 AS DOUBLE)
           / CAST(s_scaled + (CAST(256 AS BIGINT) - occupied)
                  * CAST(9007199254740992 AS BIGINT) AS DOUBLE) AS raw_est
  FROM per),
est AS (
  SELECT seg, v_empty,
         CASE WHEN raw_est <= CAST(640.0 AS DOUBLE) AND v_empty > 0
              THEN CAST(256.0 AS DOUBLE)
                   * (CAST(5.545177444479562 AS DOUBLE) - (CASE CAST(v_empty AS INT) WHEN 1 THEN CAST(0.0 AS DOUBLE) WHEN 2 THEN CAST(0.6931471805599453 AS DOUBLE) WHEN 3 THEN CAST(1.0986122886681098 AS DOUBLE) WHEN 4 THEN CAST(1.3862943611198906 AS DOUBLE) WHEN 5 THEN CAST(1.6094379124341003 AS DOUBLE) WHEN 6 THEN CAST(1.791759469228055 AS DOUBLE) WHEN 7 THEN CAST(1.9459101490553132 AS DOUBLE) WHEN 8 THEN CAST(2.0794415416798357 AS DOUBLE) WHEN 9 THEN CAST(2.1972245773362196 AS DOUBLE) WHEN 10 THEN CAST(2.302585092994046 AS DOUBLE) WHEN 11 THEN CAST(2.3978952727983707 AS DOUBLE) WHEN 12 THEN CAST(2.4849066497880004 AS DOUBLE) WHEN 13 THEN CAST(2.5649493574615367 AS DOUBLE) WHEN 14 THEN CAST(2.6390573296152584 AS DOUBLE) WHEN 15 THEN CAST(2.70805020110221 AS DOUBLE) WHEN 16 THEN CAST(2.772588722239781 AS DOUBLE) WHEN 17 THEN CAST(2.833213344056216 AS DOUBLE) WHEN 18 THEN CAST(2.8903717578961645 AS DOUBLE) WHEN 19 THEN CAST(2.9444389791664403 AS DOUBLE) WHEN 20 THEN CAST(2.995732273553991 AS DOUBLE) WHEN 21 THEN CAST(3.044522437723423 AS DOUBLE) WHEN 22 THEN CAST(3.091042453358316 AS DOUBLE) WHEN 23 THEN CAST(3.1354942159291497 AS DOUBLE) WHEN 24 THEN CAST(3.1780538303479458 AS DOUBLE) WHEN 25 THEN CAST(3.2188758248682006 AS DOUBLE) WHEN 26 THEN CAST(3.258096538021482 AS DOUBLE) WHEN 27 THEN CAST(3.295836866004329 AS DOUBLE) WHEN 28 THEN CAST(3.332204510175204 AS DOUBLE) WHEN 29 THEN CAST(3.367295829986474 AS DOUBLE) WHEN 30 THEN CAST(3.4011973816621555 AS DOUBLE) WHEN 31 THEN CAST(3.4339872044851463 AS DOUBLE) WHEN 32 THEN CAST(3.4657359027997265 AS DOUBLE) WHEN 33 THEN CAST(3.4965075614664802 AS DOUBLE) WHEN 34 THEN CAST(3.5263605246161616 AS DOUBLE) WHEN 35 THEN CAST(3.5553480614894135 AS DOUBLE) WHEN 36 THEN CAST(3.58351893845611 AS DOUBLE) WHEN 37 THEN CAST(3.6109179126442243 AS DOUBLE) WHEN 38 THEN CAST(3.6375861597263857 AS DOUBLE) WHEN 39 THEN CAST(3.6635616461296463 AS DOUBLE) WHEN 40 THEN CAST(3.6888794541139363 AS DOUBLE) WHEN 41 THEN CAST(3.713572066704308 AS DOUBLE) WHEN 42 THEN CAST(3.7376696182833684 AS DOUBLE) WHEN 43 THEN CAST(3.7612001156935624 AS DOUBLE) WHEN 44 THEN CAST(3.784189633918261 AS DOUBLE) WHEN 45 THEN CAST(3.8066624897703196 AS DOUBLE) WHEN 46 THEN CAST(3.828641396489095 AS DOUBLE) WHEN 47 THEN CAST(3.8501476017100584 AS DOUBLE) WHEN 48 THEN CAST(3.871201010907891 AS DOUBLE) WHEN 49 THEN CAST(3.8918202981106265 AS DOUBLE) WHEN 50 THEN CAST(3.912023005428146 AS DOUBLE) WHEN 51 THEN CAST(3.9318256327243257 AS DOUBLE) WHEN 52 THEN CAST(3.9512437185814275 AS DOUBLE) WHEN 53 THEN CAST(3.970291913552122 AS DOUBLE) WHEN 54 THEN CAST(3.9889840465642745 AS DOUBLE) WHEN 55 THEN CAST(4.007333185232471 AS DOUBLE) WHEN 56 THEN CAST(4.02535169073515 AS DOUBLE) WHEN 57 THEN CAST(4.04305126783455 AS DOUBLE) WHEN 58 THEN CAST(4.060443010546419 AS DOUBLE) WHEN 59 THEN CAST(4.07753744390572 AS DOUBLE) WHEN 60 THEN CAST(4.0943445622221 AS DOUBLE) WHEN 61 THEN CAST(4.110873864173311 AS DOUBLE) WHEN 62 THEN CAST(4.127134385045092 AS DOUBLE) WHEN 63 THEN CAST(4.143134726391533 AS DOUBLE) WHEN 64 THEN CAST(4.1588830833596715 AS DOUBLE) WHEN 65 THEN CAST(4.174387269895637 AS DOUBLE) WHEN 66 THEN CAST(4.189654742026425 AS DOUBLE) WHEN 67 THEN CAST(4.204692619390966 AS DOUBLE) WHEN 68 THEN CAST(4.219507705176107 AS DOUBLE) WHEN 69 THEN CAST(4.23410650459726 AS DOUBLE) WHEN 70 THEN CAST(4.248495242049359 AS DOUBLE) WHEN 71 THEN CAST(4.2626798770413155 AS DOUBLE) WHEN 72 THEN CAST(4.276666119016055 AS DOUBLE) WHEN 73 THEN CAST(4.290459441148391 AS DOUBLE) WHEN 74 THEN CAST(4.30406509320417 AS DOUBLE) WHEN 75 THEN CAST(4.31748811353631 AS DOUBLE) WHEN 76 THEN CAST(4.330733340286331 AS DOUBLE) WHEN 77 THEN CAST(4.343805421853684 AS DOUBLE) WHEN 78 THEN CAST(4.356708826689592 AS DOUBLE) WHEN 79 THEN CAST(4.3694478524670215 AS DOUBLE) WHEN 80 THEN CAST(4.382026634673881 AS DOUBLE) WHEN 81 THEN CAST(4.394449154672439 AS DOUBLE) WHEN 82 THEN CAST(4.406719247264253 AS DOUBLE) WHEN 83 THEN CAST(4.418840607796598 AS DOUBLE) WHEN 84 THEN CAST(4.430816798843313 AS DOUBLE) WHEN 85 THEN CAST(4.442651256490317 AS DOUBLE) WHEN 86 THEN CAST(4.454347296253507 AS DOUBLE) WHEN 87 THEN CAST(4.465908118654584 AS DOUBLE) WHEN 88 THEN CAST(4.477336814478207 AS DOUBLE) WHEN 89 THEN CAST(4.48863636973214 AS DOUBLE) WHEN 90 THEN CAST(4.499809670330265 AS DOUBLE) WHEN 91 THEN CAST(4.51085950651685 AS DOUBLE) WHEN 92 THEN CAST(4.5217885770490405 AS DOUBLE) WHEN 93 THEN CAST(4.532599493153256 AS DOUBLE) WHEN 94 THEN CAST(4.543294782270004 AS DOUBLE) WHEN 95 THEN CAST(4.553876891600541 AS DOUBLE) WHEN 96 THEN CAST(4.564348191467836 AS DOUBLE) WHEN 97 THEN CAST(4.574710978503383 AS DOUBLE) WHEN 98 THEN CAST(4.584967478670572 AS DOUBLE) WHEN 99 THEN CAST(4.59511985013459 AS DOUBLE) WHEN 100 THEN CAST(4.605170185988092 AS DOUBLE) WHEN 101 THEN CAST(4.61512051684126 AS DOUBLE) WHEN 102 THEN CAST(4.624972813284271 AS DOUBLE) WHEN 103 THEN CAST(4.634728988229636 AS DOUBLE) WHEN 104 THEN CAST(4.6443908991413725 AS DOUBLE) WHEN 105 THEN CAST(4.653960350157523 AS DOUBLE) WHEN 106 THEN CAST(4.663439094112067 AS DOUBLE) WHEN 107 THEN CAST(4.672828834461906 AS DOUBLE) WHEN 108 THEN CAST(4.68213122712422 AS DOUBLE) WHEN 109 THEN CAST(4.6913478822291435 AS DOUBLE) WHEN 110 THEN CAST(4.700480365792417 AS DOUBLE) WHEN 111 THEN CAST(4.709530201312334 AS DOUBLE) WHEN 112 THEN CAST(4.718498871295094 AS DOUBLE) WHEN 113 THEN CAST(4.727387818712341 AS DOUBLE) WHEN 114 THEN CAST(4.736198448394496 AS DOUBLE) WHEN 115 THEN CAST(4.74493212836325 AS DOUBLE) WHEN 116 THEN CAST(4.7535901911063645 AS DOUBLE) WHEN 117 THEN CAST(4.762173934797756 AS DOUBLE) WHEN 118 THEN CAST(4.770684624465665 AS DOUBLE) WHEN 119 THEN CAST(4.77912349311153 AS DOUBLE) WHEN 120 THEN CAST(4.787491742782046 AS DOUBLE) WHEN 121 THEN CAST(4.795790545596741 AS DOUBLE) WHEN 122 THEN CAST(4.804021044733257 AS DOUBLE) WHEN 123 THEN CAST(4.812184355372417 AS DOUBLE) WHEN 124 THEN CAST(4.820281565605037 AS DOUBLE) WHEN 125 THEN CAST(4.8283137373023015 AS DOUBLE) WHEN 126 THEN CAST(4.836281906951478 AS DOUBLE) WHEN 127 THEN CAST(4.844187086458591 AS DOUBLE) WHEN 128 THEN CAST(4.852030263919617 AS DOUBLE) WHEN 129 THEN CAST(4.859812404361672 AS DOUBLE) WHEN 130 THEN CAST(4.867534450455582 AS DOUBLE) WHEN 131 THEN CAST(4.875197323201151 AS DOUBLE) WHEN 132 THEN CAST(4.882801922586371 AS DOUBLE) WHEN 133 THEN CAST(4.890349128221754 AS DOUBLE) WHEN 134 THEN CAST(4.897839799950911 AS DOUBLE) WHEN 135 THEN CAST(4.90527477843843 AS DOUBLE) WHEN 136 THEN CAST(4.912654885736052 AS DOUBLE) WHEN 137 THEN CAST(4.919980925828125 AS DOUBLE) WHEN 138 THEN CAST(4.927253685157205 AS DOUBLE) WHEN 139 THEN CAST(4.9344739331306915 AS DOUBLE) WHEN 140 THEN CAST(4.941642422609304 AS DOUBLE) WHEN 141 THEN CAST(4.948759890378168 AS DOUBLE) WHEN 142 THEN CAST(4.955827057601261 AS DOUBLE) WHEN 143 THEN CAST(4.962844630259907 AS DOUBLE) WHEN 144 THEN CAST(4.969813299576001 AS DOUBLE) WHEN 145 THEN CAST(4.976733742420574 AS DOUBLE) WHEN 146 THEN CAST(4.983606621708336 AS DOUBLE) WHEN 147 THEN CAST(4.990432586778736 AS DOUBLE) WHEN 148 THEN CAST(4.997212273764115 AS DOUBLE) WHEN 149 THEN CAST(5.003946305945459 AS DOUBLE) WHEN 150 THEN CAST(5.0106352940962555 AS DOUBLE) WHEN 151 THEN CAST(5.017279836814924 AS DOUBLE) WHEN 152 THEN CAST(5.0238805208462765 AS DOUBLE) WHEN 153 THEN CAST(5.030437921392435 AS DOUBLE) WHEN 154 THEN CAST(5.0369526024136295 AS DOUBLE) WHEN 155 THEN CAST(5.043425116919247 AS DOUBLE) WHEN 156 THEN CAST(5.049856007249537 AS DOUBLE) WHEN 157 THEN CAST(5.056245805348308 AS DOUBLE) WHEN 158 THEN CAST(5.062595033026967 AS DOUBLE) WHEN 159 THEN CAST(5.0689042022202315 AS DOUBLE) WHEN 160 THEN CAST(5.075173815233827 AS DOUBLE) WHEN 161 THEN CAST(5.081404364984463 AS DOUBLE) WHEN 162 THEN CAST(5.087596335232384 AS DOUBLE) WHEN 163 THEN CAST(5.093750200806762 AS DOUBLE) WHEN 164 THEN CAST(5.099866427824199 AS DOUBLE) WHEN 165 THEN CAST(5.10594547390058 AS DOUBLE) WHEN 166 THEN CAST(5.111987788356544 AS DOUBLE) WHEN 167 THEN CAST(5.117993812416755 AS DOUBLE) WHEN 168 THEN CAST(5.123963979403259 AS DOUBLE) WHEN 169 THEN CAST(5.1298987149230735 AS DOUBLE) WHEN 170 THEN CAST(5.135798437050262 AS DOUBLE) WHEN 171 THEN CAST(5.14166355650266 AS DOUBLE) WHEN 172 THEN CAST(5.147494476813453 AS DOUBLE) WHEN 173 THEN CAST(5.153291594497779 AS DOUBLE) WHEN 174 THEN CAST(5.159055299214529 AS DOUBLE) WHEN 175 THEN CAST(5.1647859739235145 AS DOUBLE) WHEN 176 THEN CAST(5.170483995038151 AS DOUBLE) WHEN 177 THEN CAST(5.176149732573829 AS DOUBLE) WHEN 178 THEN CAST(5.181783550292085 AS DOUBLE) WHEN 179 THEN CAST(5.187385805840755 AS DOUBLE) WHEN 180 THEN CAST(5.19295685089021 AS DOUBLE) WHEN 181 THEN CAST(5.198497031265826 AS DOUBLE) WHEN 182 THEN CAST(5.204006687076795 AS DOUBLE) WHEN 183 THEN CAST(5.209486152841421 AS DOUBLE) WHEN 184 THEN CAST(5.214935757608986 AS DOUBLE) WHEN 185 THEN CAST(5.220355825078324 AS DOUBLE) WHEN 186 THEN CAST(5.225746673713202 AS DOUBLE) WHEN 187 THEN CAST(5.231108616854587 AS DOUBLE) WHEN 188 THEN CAST(5.236441962829949 AS DOUBLE) WHEN 189 THEN CAST(5.241747015059643 AS DOUBLE) WHEN 190 THEN CAST(5.247024072160486 AS DOUBLE) WHEN 191 THEN CAST(5.25227342804663 AS DOUBLE) WHEN 192 THEN CAST(5.2574953720277815 AS DOUBLE) WHEN 193 THEN CAST(5.262690188904886 AS DOUBLE) WHEN 194 THEN CAST(5.267858159063328 AS DOUBLE) WHEN 195 THEN CAST(5.272999558563747 AS DOUBLE) WHEN 196 THEN CAST(5.278114659230517 AS DOUBLE) WHEN 197 THEN CAST(5.2832037287379885 AS DOUBLE) WHEN 198 THEN CAST(5.288267030694535 AS DOUBLE) WHEN 199 THEN CAST(5.293304824724492 AS DOUBLE) WHEN 200 THEN CAST(5.298317366548036 AS DOUBLE) WHEN 201 THEN CAST(5.303304908059076 AS DOUBLE) WHEN 202 THEN CAST(5.308267697401205 AS DOUBLE) WHEN 203 THEN CAST(5.313205979041787 AS DOUBLE) WHEN 204 THEN CAST(5.318119993844216 AS DOUBLE) WHEN 205 THEN CAST(5.3230099791384085 AS DOUBLE) WHEN 206 THEN CAST(5.327876168789581 AS DOUBLE) WHEN 207 THEN CAST(5.332718793265369 AS DOUBLE) WHEN 208 THEN CAST(5.337538079701318 AS DOUBLE) WHEN 209 THEN CAST(5.342334251964811 AS DOUBLE) WHEN 210 THEN CAST(5.3471075307174685 AS DOUBLE) WHEN 211 THEN CAST(5.351858133476067 AS DOUBLE) WHEN 212 THEN CAST(5.356586274672012 AS DOUBLE) WHEN 213 THEN CAST(5.3612921657094255 AS DOUBLE) WHEN 214 THEN CAST(5.365976015021851 AS DOUBLE) WHEN 215 THEN CAST(5.3706380281276624 AS DOUBLE) WHEN 216 THEN CAST(5.375278407684165 AS DOUBLE) WHEN 217 THEN CAST(5.37989735354046 AS DOUBLE) WHEN 218 THEN CAST(5.384495062789089 AS DOUBLE) WHEN 219 THEN CAST(5.389071729816501 AS DOUBLE) WHEN 220 THEN CAST(5.393627546352362 AS DOUBLE) WHEN 221 THEN CAST(5.3981627015177525 AS DOUBLE) WHEN 222 THEN CAST(5.402677381872279 AS DOUBLE) WHEN 223 THEN CAST(5.407171771460119 AS DOUBLE) WHEN 224 THEN CAST(5.4116460518550396 AS DOUBLE) WHEN 225 THEN CAST(5.41610040220442 AS DOUBLE) WHEN 226 THEN CAST(5.420534999272286 AS DOUBLE) WHEN 227 THEN CAST(5.424950017481403 AS DOUBLE) WHEN 228 THEN CAST(5.429345628954441 AS DOUBLE) WHEN 229 THEN CAST(5.43372200355424 AS DOUBLE) WHEN 230 THEN CAST(5.438079308923196 AS DOUBLE) WHEN 231 THEN CAST(5.442417710521793 AS DOUBLE) WHEN 232 THEN CAST(5.44673737166631 AS DOUBLE) WHEN 233 THEN CAST(5.4510384535657 AS DOUBLE) WHEN 234 THEN CAST(5.455321115357702 AS DOUBLE) WHEN 235 THEN CAST(5.459585514144159 AS DOUBLE) WHEN 236 THEN CAST(5.4638318050256105 AS DOUBLE) WHEN 237 THEN CAST(5.4680601411351315 AS DOUBLE) WHEN 238 THEN CAST(5.472270673671475 AS DOUBLE) WHEN 239 THEN CAST(5.476463551931511 AS DOUBLE) WHEN 240 THEN CAST(5.480638923341991 AS DOUBLE) WHEN 241 THEN CAST(5.484796933490655 AS DOUBLE) WHEN 242 THEN CAST(5.488937726156687 AS DOUBLE) WHEN 243 THEN CAST(5.493061443340548 AS DOUBLE) WHEN 244 THEN CAST(5.497168225293202 AS DOUBLE) WHEN 245 THEN CAST(5.501258210544727 AS DOUBLE) WHEN 246 THEN CAST(5.5053315359323625 AS DOUBLE) WHEN 247 THEN CAST(5.5093883366279774 AS DOUBLE) WHEN 248 THEN CAST(5.5134287461649825 AS DOUBLE) WHEN 249 THEN CAST(5.517452896464707 AS DOUBLE) WHEN 250 THEN CAST(5.521460917862246 AS DOUBLE) WHEN 251 THEN CAST(5.5254529391317835 AS DOUBLE) WHEN 252 THEN CAST(5.529429087511423 AS DOUBLE) WHEN 253 THEN CAST(5.53338948872752 AS DOUBLE) WHEN 254 THEN CAST(5.537334267018537 AS DOUBLE) WHEN 255 THEN CAST(5.541263545158426 AS DOUBLE) END))
              ELSE raw_est END AS est_distinct
  FROM stage)
SELECT est.seg AS c_mktsegment, n_fine_sketches, est_distinct, exact_distinct,
       est_distinct / CAST(exact_distinct AS DOUBLE) - 1.0 AS rel_err,
       v_empty
FROM est JOIN ex ON ex.seg = est.seg JOIN ns ON ns.seg = est.seg
"""


ORACLE["order_value_ddsketch"] = """
WITH o AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
  WHERE o_totalprice > 0),
per_b AS (
  SELECT CAST(FLOOR(ln(v) / 0.01980262729617973) AS BIGINT) AS b,
         CAST(COUNT(*) AS BIGINT) AS c,
         MIN(v) AS lo, MAX(v) AS hi
  FROM o GROUP BY 1),
cum_b AS (
  SELECT b, CAST(SUM(c) OVER (ORDER BY b
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum
  FROM per_b),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM per_b),
probes AS (
  SELECT CAST(u.q AS INT) AS q, n_total,
         CAST((u.q * n_total + 99) // 100 AS BIGINT) AS target_rank
  FROM tot, UNNEST([50, 90, 95, 99]) AS u(q)),
sk AS (
  SELECT q, n_total, target_rank, CAST(MIN(b) AS BIGINT) AS bucket,
         MIN_BY(lo, b) AS blo, MIN_BY(hi, b) AS bhi
  FROM cum_b JOIN per_b USING (b) CROSS JOIN probes
  WHERE cum >= target_rank
  GROUP BY q, n_total, target_rank),
per_v AS (
  SELECT v, COUNT(*) AS cv FROM o GROUP BY v),
cum_v AS (
  SELECT v, SUM(cv) OVER (ORDER BY v) AS cum_cv FROM per_v),
exact AS (
  SELECT q, MIN(v) AS exact_value
  FROM cum_v CROSS JOIN probes
  WHERE cum_cv >= target_rank
  GROUP BY q)
SELECT sk.q, n_total, target_rank, bucket,
       (blo + bhi) / 2.0 AS est_value,
       exact_value,
       (blo + bhi) / 2.0 / CAST(exact_value AS DOUBLE) - 1.0 AS rel_err
FROM sk JOIN exact USING (q)
ORDER BY q
"""


# P91: quarantine triage — DuckDB classifies with json_valid +
# json_extract; counts exact, one IEEE share division.
ORACLE["ingest_quarantine_report"] = """
WITH payloads AS (
  SELECT 'events_feed' AS src, props AS payload FROM events
  UNION ALL
  SELECT 'docs_feed', text FROM documents),
cls AS (
  SELECT src,
         CASE WHEN COALESCE(NOT json_valid(payload), TRUE) THEN 'malformed_json'
              WHEN TRY_CAST(json_extract_string(payload, '$.k') AS BIGINT)
                   IS NULL THEN 'missing_field_k'
              ELSE 'accepted' END AS reason
  FROM payloads),
per AS (
  SELECT src, reason, CAST(COUNT(*) AS BIGINT) AS n
  FROM cls GROUP BY src, reason),
tot AS (
  SELECT src, CAST(SUM(n) AS BIGINT) AS n_src FROM per GROUP BY src)
SELECT per.src, reason, n, n_src,
       CAST(n AS DOUBLE) / CAST(n_src AS DOUBLE) AS share
FROM per JOIN tot USING (src)
ORDER BY src, reason
"""


# L73: dataset card — exact counts/dup classes, qsum-quantized mean
# quality, deterministic dominant-language pick.
ORACLE["dataset_card_by_source"] = f"""
WITH base AS (
  SELECT doc_id, source, lang,
         CAST({_NWORDS} AS BIGINT) AS n_words,
         CAST(FLOOR((0.4 * (CAST(len(regexp_extract_all(lower(text), '{_STOP}')) AS DOUBLE) / {_NWORDS})
              + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '{_PUNCT_RE}')) AS DOUBLE) / length(text))
              + 0.3 * LEAST(1.0, {_NWORDS} / 100.0)) * 1000000.0)
              AS BIGINT) AS q6,
         md5({_NORM_TEXT}) AS chash
  FROM documents),
dup AS (
  SELECT source, CAST(SUM(c - 1) AS BIGINT) AS n_dup_docs
  FROM (SELECT source, chash, COUNT(*) AS c FROM base GROUP BY 1, 2)
  GROUP BY source),
langs AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS cl
  FROM base GROUP BY source, lang),
top_lang AS (
  SELECT source, lang AS top_lang, cl AS top_lang_docs
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        ORDER BY cl DESC, lang ASC) AS rk FROM langs)
  WHERE rk = 1),
agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_words) AS BIGINT) AS n_tokens,
         CAST(SUM(q6) AS BIGINT) AS sq6
  FROM base GROUP BY source)
SELECT agg.source, n_docs, n_tokens, n_dup_docs,
       CAST(n_dup_docs AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_share,
       CAST(sq6 AS DOUBLE) / 1000000.0 / CAST(n_docs AS DOUBLE)
         AS mean_quality,
       top_lang,
       CAST(top_lang_docs AS DOUBLE) / CAST(n_docs AS DOUBLE)
         AS top_lang_share
FROM agg JOIN dup USING (source) JOIN top_lang USING (source)
ORDER BY source
"""


# R92: two-way factorial ANOVA — exact integer cell/row/col/grand
# moments; cross-group squared-mean sums re-quantized to tenths
# (order-independent) before the mirrored IEEE assembly.
ORACLE["order_value_twoway_anova"] = """
WITH j AS (
  SELECT c_mktsegment AS a, o_orderpriority AS b,
         CAST(FLOOR(CAST(o_totalprice AS DOUBLE) * 100.0) AS BIGINT) AS v
  FROM orders JOIN customer ON o_custkey = c_custkey),
cell AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_ab,
         SUM(CAST(v AS HUGEINT)) AS s_ab
  FROM j GROUP BY a, b),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(v AS HUGEINT)) AS s,
         SUM(CAST(v AS HUGEINT) * v) AS ss
  FROM j),
row_a AS (
  SELECT a, CAST(SUM(n_ab) AS BIGINT) AS n_a,
         SUM(s_ab) AS s_a
  FROM cell GROUP BY a),
col_b AS (
  SELECT b, CAST(SUM(n_ab) AS BIGINT) AS n_b,
         SUM(s_ab) AS s_b
  FROM cell GROUP BY b),
a_sq AS (
  SELECT SUM((s_a * s_a) // n_a) AS q
  FROM row_a),
b_sq AS (
  SELECT SUM((s_b * s_b) // n_b) AS q
  FROM col_b),
cell_sq AS (
  SELECT SUM((s_ab * s_ab) // n_ab) AS q
  FROM cell),
d AS (
  SELECT n,
         CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS grand,
         CAST(ss AS DOUBLE) AS ssd,
         CAST(a_sq.q AS DOUBLE) AS a_sq,
         CAST(b_sq.q AS DOUBLE) AS b_sq,
         CAST(cell_sq.q AS DOUBLE) AS cell_sq
  FROM tot, a_sq, b_sq, cell_sq),
o AS (
  SELECT n,
         a_sq - grand AS ss_a,
         b_sq - grand AS ss_b,
         cell_sq - grand - (a_sq - grand) - (b_sq - grand) AS ss_ab,
         (ssd - grand) - (cell_sq - grand) AS ss_err,
         CAST(n AS DOUBLE) AS nd
  FROM d)
SELECT n, ss_a, ss_b, ss_ab, ss_err,
       CASE WHEN ss_err <> 0.0
            THEN (ss_a / 4.0) / (ss_err / (nd - 25.0)) END AS f_a,
       CASE WHEN ss_err <> 0.0
            THEN (ss_b / 4.0) / (ss_err / (nd - 25.0)) END AS f_b,
       CASE WHEN ss_err <> 0.0
            THEN (ss_ab / 16.0) / (ss_err / (nd - 25.0)) END AS f_ab
FROM o
"""


# R93: top-k WITH TIES — dense_rank keeps all tied rows; rank() shows
# the gap semantics beside it.
ORACLE["top_part_prices_with_ties"] = """
SELECT p_brand, p_partkey, p_retailprice,
       CAST(DENSE_RANK() OVER (PARTITION BY p_brand
            ORDER BY p_retailprice DESC) AS BIGINT) AS price_dense_rank,
       CAST(RANK() OVER (PARTITION BY p_brand
            ORDER BY p_retailprice DESC) AS BIGINT) AS price_rank
FROM part
QUALIFY price_dense_rank <= 3
ORDER BY p_brand, price_dense_rank, p_partkey
"""


# R94: Welch t — the identical conditional-aggregate row and the
# identical left-associated float chain over the six exact scalars.
ORACLE["order_value_welch_ttest"] = """
WITH v AS (
  SELECT o_orderpriority = '1-URGENT' AS g,
         CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS v
  FROM orders),
tot AS (
  SELECT CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN g THEN 0 ELSE 1 END) AS BIGINT) AS n2,
         SUM(CAST(CASE WHEN g THEN v ELSE 0 END AS HUGEINT)) AS s1,
         SUM(CAST(CASE WHEN g THEN v ELSE 0 END AS HUGEINT) * v) AS ss1,
         SUM(CAST(CASE WHEN g THEN 0 ELSE v END AS HUGEINT)) AS s2,
         SUM(CAST(CASE WHEN g THEN 0 ELSE v END AS HUGEINT) * v) AS ss2
  FROM v),
c AS (
  SELECT n1, n2,
         CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
         CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
         (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE)
            * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)))
           / (CAST(n1 AS DOUBLE) - 1.0) AS var1,
         (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE)
            * (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
           / (CAST(n2 AS DOUBLE) - 1.0) AS var2
  FROM tot),
e AS (
  SELECT n1, n2, m1, m2, var1, var2,
         var1 / CAST(n1 AS DOUBLE) AS se1,
         var2 / CAST(n2 AS DOUBLE) AS se2
  FROM c)
SELECT n1, n2,
       m1 / 100.0 AS mean_urgent,
       m2 / 100.0 AS mean_other,
       CASE WHEN n1 > 1 AND n2 > 1 THEN
         (m1 - m2) / sqrt(se1 + se2) END AS t_stat,
       CASE WHEN n1 > 1 AND n2 > 1 THEN
         ((se1 + se2) * (se1 + se2))
           / (se1 * se1 / (CAST(n1 AS DOUBLE) - 1.0)
              + se2 * se2 / (CAST(n2 AS DOUBLE) - 1.0)) END AS df_welch,
       CASE WHEN n1 > 1 AND n2 > 1 THEN
         (m1 - m2) / sqrt(((CAST(n1 AS DOUBLE) - 1.0) * var1
                           + (CAST(n2 AS DOUBLE) - 1.0) * var2)
                          / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0))
       END AS cohens_d
FROM e
"""

# R95: ACF on the zero-filled day spine — exact HUGEINT cent moments,
# the R60 closed-form corr chain per lag.
ORACLE["daily_revenue_acf"] = """
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_num,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS rev
  FROM orders GROUP BY 1),
span AS (SELECT MIN(day_num) AS d0, MAX(day_num) AS d1 FROM daily),
spine AS (
  SELECT UNNEST(range(d0, d1 + 1)) AS day_num FROM span),
series AS (
  SELECT s.day_num, COALESCE(d.rev, 0) AS rev
  FROM spine s LEFT JOIN daily d USING (day_num)),
lags AS (SELECT UNNEST(range(1, 8)) AS lag_days),
j AS (
  SELECT l.lag_days, a.rev AS x, b.rev AS y
  FROM series a
  CROSS JOIN lags l
  JOIN series b ON b.day_num = a.day_num + l.lag_days),
agg AS (
  SELECT lag_days,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         SUM(CAST(x AS HUGEINT)) AS sx,
         SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM j GROUP BY lag_days),
x AS (
  SELECT lag_days, n_days,
         CAST(n_days AS HUGEINT) * sxy - sx * sy AS num,
         CAST(n_days AS HUGEINT) * sxx - sx * sx AS denx,
         CAST(n_days AS HUGEINT) * syy - sy * sy AS deny
  FROM agg)
SELECT lag_days, n_days,
       CASE WHEN denx > 0 AND deny > 0 THEN
         (CASE WHEN (num) < 0 THEN -1.0 ELSE 1.0 END) * (CAST(ABS(num) // 4294967296 AS DOUBLE) * 4294967296.0 + CAST(ABS(num) % 4294967296 AS DOUBLE)) / sqrt((CASE WHEN (denx) < 0 THEN -1.0 ELSE 1.0 END) * (CAST(ABS(denx) // 4294967296 AS DOUBLE) * 4294967296.0 + CAST(ABS(denx) % 4294967296 AS DOUBLE)) * (CASE WHEN (deny) < 0 THEN -1.0 ELSE 1.0 END) * (CAST(ABS(deny) // 4294967296 AS DOUBLE) * 4294967296.0 + CAST(ABS(deny) % 4294967296 AS DOUBLE)))
       END AS acf
FROM x ORDER BY lag_days
"""

# L74: Cohen's kappa off the L44 confusion cells — exact integer
# n/trace/Σrow·col, one IEEE division (plus the po/pe chains).
ORACLE["lang_id_cohen_kappa"] = f"""
WITH s AS (
  SELECT doc_id, lang,
    {_score_cols}
  FROM documents),
p AS (
  SELECT lang,
    CASE
      WHEN c_en > 0 AND c_en >= GREATEST(c_es, c_de, c_fr) THEN 'en'
      WHEN c_es > 0 AND c_es >= GREATEST(c_en, c_de, c_fr) THEN 'es'
      WHEN c_de > 0 AND c_de >= GREATEST(c_en, c_es, c_fr) THEN 'de'
      WHEN c_fr > 0 AND c_fr >= GREATEST(c_en, c_es, c_de) THEN 'fr'
      ELSE 'und'
    END AS lang_pred
  FROM s),
cells AS (
  SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS c
  FROM p GROUP BY lang, lang_pred),
g AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN lang = lang_pred THEN c ELSE 0 END) AS BIGINT)
           AS trace
  FROM cells),
r AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS r FROM cells GROUP BY lang),
k AS (SELECT lang_pred AS lang, CAST(SUM(c) AS BIGINT) AS k
      FROM cells GROUP BY lang_pred),
rc AS (
  SELECT CAST(SUM(COALESCE(r.r, 0) * COALESCE(k.k, 0)) AS BIGINT) AS rc
  FROM r FULL JOIN k USING (lang))
SELECT n, trace,
       CAST(trace AS DOUBLE) / CAST(n AS DOUBLE) AS observed_agreement,
       CAST(rc AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
         AS expected_agreement,
       CASE WHEN n * n != rc THEN
         CAST(n * trace - rc AS DOUBLE) / CAST(n * n - rc AS DOUBLE)
       END AS kappa
FROM g, rc
"""

# P92: dispersion index on the zero-filled per-type day spine.
ORACLE["event_type_dispersion"] = """
WITH byday AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
span AS (
  SELECT MIN(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS d0,
         MAX(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS d1
  FROM events),
spine AS (
  SELECT t.event_type, UNNEST(range(s.d0, s.d1 + 1)) AS day_num
  FROM (SELECT DISTINCT event_type FROM byday) t, span s),
dense AS (
  SELECT s.event_type, COALESCE(b.c, 0) AS c
  FROM spine s LEFT JOIN byday b USING (event_type, day_num)),
agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(c) AS BIGINT) AS total,
         CAST(SUM(c * c) AS BIGINT) AS ssq
  FROM dense GROUP BY event_type)
SELECT event_type, n_days, total,
       CAST(total AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_daily,
       CAST(n_days * ssq - total * total AS DOUBLE)
         / CAST(n_days * (n_days - 1) AS DOUBLE) AS var_daily,
       (CAST(n_days * ssq - total * total AS DOUBLE)
          / CAST(n_days * (n_days - 1) AS DOUBLE))
         / (CAST(total AS DOUBLE) / CAST(n_days AS DOUBLE))
         AS dispersion_index,
       (CAST(n_days * ssq - total * total AS DOUBLE)
          / CAST(n_days * (n_days - 1) AS DOUBLE))
         / (CAST(total AS DOUBLE) / CAST(n_days AS DOUBLE)) > 1.5
         AS bursty
FROM agg
WHERE n_days > 1 AND total > 0
ORDER BY event_type
"""


def _kcore_sql(k: int = 3, n_rounds: int = 6) -> str:
    """Unrolled synchronous k-core peel — the twin of part_k_core:
    round r recomputes degrees on e{r-1} and keeps edges whose BOTH
    endpoints still have degree >= k. MATERIALIZED per round (same
    bounded-plan discipline as the pagerank family)."""
    ctes = [
        """lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)""",
        """e00 AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)""",
        """e0 AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM e00
  UNION ALL SELECT v AS src, u AS dst FROM e00)""",
    ]
    for r in range(1, n_rounds + 1):
        ctes.append(
            f"""v{r} AS MATERIALIZED (
  SELECT src AS p FROM e{r - 1} GROUP BY src HAVING COUNT(*) >= {k})"""
        )
        ctes.append(
            f"""e{r} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{r - 1} e
  JOIN v{r} a ON a.p = e.src
  JOIN v{r} b ON b.p = e.dst)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT src AS p_partkey, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM e{n_rounds} GROUP BY src
ORDER BY core_degree DESC, p_partkey LIMIT 50"""
    )


ORACLE["part_k_core"] = _kcore_sql()

# R97: Adamic-Adar — R79's wedge join with the fixed-point
# 1e12 // floor(ln(deg_src)*1e6) center weight.
ORACLE["copurchase_adamic_adar"] = """
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
allv AS (
  SELECT u AS p FROM e0 UNION ALL SELECT v FROM e0),
deg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS deg FROM allv GROUP BY p),
packed AS (
  SELECT e0.u, e0.v,
         du.deg * 1099511627776 + e0.u AS ku,
         dv.deg * 1099511627776 + e0.v AS kv
  FROM e0 JOIN deg du ON du.p = e0.u JOIN deg dv ON dv.p = e0.v),
directed AS (
  SELECT CASE WHEN ku < kv THEN u ELSE v END AS src,
         CASE WHEN ku < kv THEN v ELSE u END AS dst
  FROM packed),
cw AS (
  SELECT p AS src,
         CAST(FLOOR(1000000000000.0
              / FLOOR(ln(CAST(deg AS DOUBLE)) * 1000000.0)) AS BIGINT)
           AS w_center
  FROM deg),
wedges AS (
  SELECT d1.dst AS u, d2.dst AS v,
         CAST(COUNT(*) AS BIGINT) AS n_common,
         CAST(SUM(cw.w_center) AS BIGINT) AS aa_fixed
  FROM directed d1
  JOIN directed d2 ON d1.src = d2.src AND d1.dst < d2.dst
  JOIN cw ON cw.src = d1.src
  GROUP BY 1, 2),
pred AS (
  SELECT w.u, w.v, w.n_common, w.aa_fixed
  FROM wedges w ANTI JOIN e0 ON e0.u = w.u AND e0.v = w.v)
SELECT u AS part_a, v AS part_b, n_common, aa_fixed,
       CAST(aa_fixed AS DOUBLE) / 1000000.0 AS aa_score
FROM pred
ORDER BY aa_fixed DESC, part_a, part_b
LIMIT 20
"""

# R97b: hub-capped Adamic-Adar — centers with oriented out-degree > 64
# leave the wedge stream; the excluded mass (choose(outdeg,2) wedges
# per dropped center) is reported on every row. r12: linear wedge
# budget max(4M, 2·E) with deterministic md5 center thinning at the
# smallest power-of-two rate that fits (contributions reweighted
# ×thin_rate); rate is 1 — exact — at every driver-gate scale.
_AA_THIN_CASE = "\n              ".join(
    f"WHEN kept_mass <= {r} * wedge_budget THEN {r}"
    for r in (1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024, 2048, 4096)
) + "\n              ELSE 8192"

ORACLE["copurchase_adamic_adar_capped"] = f"""
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
allv AS (
  SELECT u AS p FROM e0 UNION ALL SELECT v FROM e0),
deg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS deg FROM allv GROUP BY p),
packed AS (
  SELECT e0.u, e0.v,
         du.deg * 1099511627776 + e0.u AS ku,
         dv.deg * 1099511627776 + e0.v AS kv
  FROM e0 JOIN deg du ON du.p = e0.u JOIN deg dv ON dv.p = e0.v),
directed AS (
  SELECT CASE WHEN ku < kv THEN u ELSE v END AS src,
         CASE WHEN ku < kv THEN v ELSE u END AS dst
  FROM packed),
od AS (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
  FROM directed GROUP BY src),
droppedm AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS dropped_centers,
         CAST(COALESCE(SUM(outdeg * (outdeg - 1) // 2), 0) AS BIGINT)
           AS dropped_wedges
  FROM od WHERE outdeg > 64),
keptod AS (SELECT src, outdeg FROM od WHERE outdeg >= 2 AND outdeg <= 64),
thin AS (
  SELECT kept_mass, wedge_budget,
         CAST(CASE {_AA_THIN_CASE} END AS BIGINT) AS thin_rate
  FROM (SELECT CAST(COALESCE(SUM(outdeg * (outdeg - 1) // 2), 0) AS BIGINT)
            AS kept_mass,
          GREATEST(4000000, 2 * (SELECT COUNT(*) FROM e0)) AS wedge_budget
        FROM keptod)),
kept AS (
  SELECT k.src FROM keptod k CROSS JOIN thin
  WHERE thin.thin_rate = 1
     OR CAST(('0x' || substr(md5(CAST(k.src AS VARCHAR)), 1, 15)) AS BIGINT)
        % thin.thin_rate = 0),
cw AS (
  SELECT p AS src,
         CAST(FLOOR(1000000000000.0
              / FLOOR(ln(CAST(deg AS DOUBLE)) * 1000000.0)) AS BIGINT)
           AS w_center
  FROM deg),
wedges AS (
  SELECT d1.dst AS u, d2.dst AS v,
         CAST(COUNT(*) * (SELECT thin_rate FROM thin) AS BIGINT)
           AS n_common,
         CAST(SUM(cw.w_center) * (SELECT thin_rate FROM thin) AS BIGINT)
           AS aa_fixed
  FROM directed d1
  JOIN directed d2 ON d1.src = d2.src AND d1.dst < d2.dst
  JOIN kept k ON k.src = d1.src
  JOIN cw ON cw.src = d1.src
  GROUP BY 1, 2),
pred AS (
  SELECT w.u, w.v, w.n_common, w.aa_fixed
  FROM wedges w ANTI JOIN e0 ON e0.u = w.u AND e0.v = w.v)
SELECT u AS part_a, v AS part_b, n_common, aa_fixed,
       CAST(aa_fixed AS DOUBLE) / 1000000.0 AS aa_score,
       dropped_centers, dropped_wedges,
       (SELECT wedge_budget FROM thin) AS wedge_budget,
       (SELECT thin_rate FROM thin) AS thin_rate
FROM (SELECT * FROM pred
      ORDER BY aa_fixed DESC, u, v
      LIMIT 20)
CROSS JOIN droppedm
ORDER BY aa_fixed DESC, part_a, part_b
"""

# P93: Nelson-Aalen — the P46 risk-set machinery with the pure
# integer floor(1e6*d/n) step hazard.
ORACLE["customer_hazard_na"] = """
WITH per AS (
  SELECT date_diff('day', MIN(CAST(o_orderdate AS DATE)),
                   MAX(CAST(o_orderdate AS DATE))) AS t_days,
         CASE WHEN date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                             (SELECT MAX(CAST(o_orderdate AS DATE))
                              FROM orders)) > 90
              THEN 1 ELSE 0 END AS is_event
  FROM orders GROUP BY o_custkey),
byd AS (
  SELECT t_days, CAST(COUNT(*) AS BIGINT) AS n_all,
         CAST(SUM(is_event) AS BIGINT) AS n_events
  FROM per GROUP BY t_days),
risk AS (
  SELECT t_days, n_events,
         CAST((SELECT COUNT(*) FROM per)
              - COALESCE(SUM(n_all) OVER (ORDER BY t_days
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk
  FROM byd),
ev AS (
  SELECT t_days, n_at_risk, n_events,
         CAST((1000000 * n_events) // n_at_risk AS BIGINT) AS hazard_ppm
  FROM risk WHERE n_events > 0)
SELECT t_days, n_at_risk, n_events, hazard_ppm,
       CAST(SUM(hazard_ppm) OVER (ORDER BY t_days
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_hazard_ppm,
       CAST(CAST(SUM(hazard_ppm) OVER (ORDER BY t_days
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS DOUBLE) / 1000000.0 AS cum_hazard
FROM ev ORDER BY t_days
"""


# L75: RAKE — identical regex segmentation, exact integer word/phrase
# scores (1e6*degree // freq), deterministic top-20.
ORACLE["doc_rake_keywords"] = r"""
WITH segs AS (
  SELECT UNNEST(string_split(
           regexp_replace(lower(text), '\b(the|a|of|and|to|in|is)\b',
                          '|', 'g'), '|')) AS seg
  FROM documents),
phrases AS (
  SELECT phrase, string_split(phrase, ' ') AS toks,
         CAST(len(string_split(phrase, ' ')) AS BIGINT) AS plen
  FROM (SELECT trim(regexp_replace(seg, '\s+', ' ', 'g')) AS phrase
        FROM segs)
  WHERE phrase != '' AND len(string_split(phrase, ' ')) BETWEEN 1 AND 4),
words AS (
  SELECT UNNEST(toks) AS w, plen FROM phrases),
wscore AS (
  SELECT w,
         CAST((1000000 * CAST(SUM(plen) AS BIGINT))
              // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS w_score_fixed
  FROM words GROUP BY w),
pgrp AS (
  SELECT phrase, toks, CAST(COUNT(*) AS BIGINT) AS n_occurrences
  FROM phrases GROUP BY phrase, toks),
scored AS (
  SELECT p.phrase, p.n_occurrences,
         CAST(SUM(ws.w_score_fixed) AS BIGINT) AS score_fixed
  FROM (SELECT phrase, n_occurrences, UNNEST(toks) AS w FROM pgrp) p
  JOIN wscore ws ON ws.w = p.w
  GROUP BY p.phrase, p.n_occurrences)
SELECT phrase, n_occurrences, score_fixed,
       CAST(score_fixed AS DOUBLE) / 1000000.0 AS rake_score
FROM scored
ORDER BY score_fixed DESC, phrase
LIMIT 20
"""

# L76: pass@k — the identical left-associated k-factor product.
def _pass_at_sql(k: int) -> str:
    prod = "1.0"
    for i in range(k):
        prod = (
            f"{prod} * (CAST(n_attempts - n_correct - {i} AS DOUBLE)"
            f" / CAST(n_attempts - {i} AS DOUBLE))"
        )
    return (
        f"CASE WHEN n_attempts < {k} THEN NULL"
        f" WHEN n_attempts - n_correct < {k} THEN 1.0"
        f" ELSE 1.0 - {prod} END"
    )


ORACLE["source_pass_at_k"] = rf"""
WITH g AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_attempts,
         CAST(SUM(CASE WHEN 5 * len(regexp_extract_all(lower(text),
                '\b(the|a|of|and|to|in|is)\b'))
              >= len(regexp_split_to_array(trim(text), '\s+'))
              THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
  FROM documents GROUP BY source)
SELECT source, n_attempts, n_correct,
       {_pass_at_sql(1)} AS pass_at_1,
       {_pass_at_sql(5)} AS pass_at_5,
       {_pass_at_sql(10)} AS pass_at_10
FROM g ORDER BY source
"""


# L77: recall@5 of the IVF-Flat serve path vs brute-force ground truth
# -- composes the two existing oracle rankings verbatim.
ORACLE["ann_recall_eval"] = """
WITH exact AS (
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec FROM embeddings),
s AS (
  SELECT q_id, neighbor_id, (0.0 + CAST(q_vec[1] AS DOUBLE)*CAST(c_vec[1] AS DOUBLE) + CAST(q_vec[2] AS DOUBLE)*CAST(c_vec[2] AS DOUBLE) + CAST(q_vec[3] AS DOUBLE)*CAST(c_vec[3] AS DOUBLE) + CAST(q_vec[4] AS DOUBLE)*CAST(c_vec[4] AS DOUBLE) + CAST(q_vec[5] AS DOUBLE)*CAST(c_vec[5] AS DOUBLE) + CAST(q_vec[6] AS DOUBLE)*CAST(c_vec[6] AS DOUBLE) + CAST(q_vec[7] AS DOUBLE)*CAST(c_vec[7] AS DOUBLE) + CAST(q_vec[8] AS DOUBLE)*CAST(c_vec[8] AS DOUBLE) + CAST(q_vec[9] AS DOUBLE)*CAST(c_vec[9] AS DOUBLE) + CAST(q_vec[10] AS DOUBLE)*CAST(c_vec[10] AS DOUBLE) + CAST(q_vec[11] AS DOUBLE)*CAST(c_vec[11] AS DOUBLE) + CAST(q_vec[12] AS DOUBLE)*CAST(c_vec[12] AS DOUBLE) + CAST(q_vec[13] AS DOUBLE)*CAST(c_vec[13] AS DOUBLE) + CAST(q_vec[14] AS DOUBLE)*CAST(c_vec[14] AS DOUBLE) + CAST(q_vec[15] AS DOUBLE)*CAST(c_vec[15] AS DOUBLE) + CAST(q_vec[16] AS DOUBLE)*CAST(c_vec[16] AS DOUBLE) + CAST(q_vec[17] AS DOUBLE)*CAST(c_vec[17] AS DOUBLE) + CAST(q_vec[18] AS DOUBLE)*CAST(c_vec[18] AS DOUBLE) + CAST(q_vec[19] AS DOUBLE)*CAST(c_vec[19] AS DOUBLE) + CAST(q_vec[20] AS DOUBLE)*CAST(c_vec[20] AS DOUBLE) + CAST(q_vec[21] AS DOUBLE)*CAST(c_vec[21] AS DOUBLE) + CAST(q_vec[22] AS DOUBLE)*CAST(c_vec[22] AS DOUBLE) + CAST(q_vec[23] AS DOUBLE)*CAST(c_vec[23] AS DOUBLE) + CAST(q_vec[24] AS DOUBLE)*CAST(c_vec[24] AS DOUBLE) + CAST(q_vec[25] AS DOUBLE)*CAST(c_vec[25] AS DOUBLE) + CAST(q_vec[26] AS DOUBLE)*CAST(c_vec[26] AS DOUBLE) + CAST(q_vec[27] AS DOUBLE)*CAST(c_vec[27] AS DOUBLE) + CAST(q_vec[28] AS DOUBLE)*CAST(c_vec[28] AS DOUBLE) + CAST(q_vec[29] AS DOUBLE)*CAST(c_vec[29] AS DOUBLE) + CAST(q_vec[30] AS DOUBLE)*CAST(c_vec[30] AS DOUBLE) + CAST(q_vec[31] AS DOUBLE)*CAST(c_vec[31] AS DOUBLE) + CAST(q_vec[32] AS DOUBLE)*CAST(c_vec[32] AS DOUBLE) + CAST(q_vec[33] AS DOUBLE)*CAST(c_vec[33] AS DOUBLE) + CAST(q_vec[34] AS DOUBLE)*CAST(c_vec[34] AS DOUBLE) + CAST(q_vec[35] AS DOUBLE)*CAST(c_vec[35] AS DOUBLE) + CAST(q_vec[36] AS DOUBLE)*CAST(c_vec[36] AS DOUBLE) + CAST(q_vec[37] AS DOUBLE)*CAST(c_vec[37] AS DOUBLE) + CAST(q_vec[38] AS DOUBLE)*CAST(c_vec[38] AS DOUBLE) + CAST(q_vec[39] AS DOUBLE)*CAST(c_vec[39] AS DOUBLE) + CAST(q_vec[40] AS DOUBLE)*CAST(c_vec[40] AS DOUBLE) + CAST(q_vec[41] AS DOUBLE)*CAST(c_vec[41] AS DOUBLE) + CAST(q_vec[42] AS DOUBLE)*CAST(c_vec[42] AS DOUBLE) + CAST(q_vec[43] AS DOUBLE)*CAST(c_vec[43] AS DOUBLE) + CAST(q_vec[44] AS DOUBLE)*CAST(c_vec[44] AS DOUBLE) + CAST(q_vec[45] AS DOUBLE)*CAST(c_vec[45] AS DOUBLE) + CAST(q_vec[46] AS DOUBLE)*CAST(c_vec[46] AS DOUBLE) + CAST(q_vec[47] AS DOUBLE)*CAST(c_vec[47] AS DOUBLE) + CAST(q_vec[48] AS DOUBLE)*CAST(c_vec[48] AS DOUBLE) + CAST(q_vec[49] AS DOUBLE)*CAST(c_vec[49] AS DOUBLE) + CAST(q_vec[50] AS DOUBLE)*CAST(c_vec[50] AS DOUBLE) + CAST(q_vec[51] AS DOUBLE)*CAST(c_vec[51] AS DOUBLE) + CAST(q_vec[52] AS DOUBLE)*CAST(c_vec[52] AS DOUBLE) + CAST(q_vec[53] AS DOUBLE)*CAST(c_vec[53] AS DOUBLE) + CAST(q_vec[54] AS DOUBLE)*CAST(c_vec[54] AS DOUBLE) + CAST(q_vec[55] AS DOUBLE)*CAST(c_vec[55] AS DOUBLE) + CAST(q_vec[56] AS DOUBLE)*CAST(c_vec[56] AS DOUBLE) + CAST(q_vec[57] AS DOUBLE)*CAST(c_vec[57] AS DOUBLE) + CAST(q_vec[58] AS DOUBLE)*CAST(c_vec[58] AS DOUBLE) + CAST(q_vec[59] AS DOUBLE)*CAST(c_vec[59] AS DOUBLE) + CAST(q_vec[60] AS DOUBLE)*CAST(c_vec[60] AS DOUBLE) + CAST(q_vec[61] AS DOUBLE)*CAST(c_vec[61] AS DOUBLE) + CAST(q_vec[62] AS DOUBLE)*CAST(c_vec[62] AS DOUBLE) + CAST(q_vec[63] AS DOUBLE)*CAST(c_vec[63] AS DOUBLE) + CAST(q_vec[64] AS DOUBLE)*CAST(c_vec[64] AS DOUBLE)) / (sqrt((0.0 + CAST(q_vec[1] AS DOUBLE)*CAST(q_vec[1] AS DOUBLE) + CAST(q_vec[2] AS DOUBLE)*CAST(q_vec[2] AS DOUBLE) + CAST(q_vec[3] AS DOUBLE)*CAST(q_vec[3] AS DOUBLE) + CAST(q_vec[4] AS DOUBLE)*CAST(q_vec[4] AS DOUBLE) + CAST(q_vec[5] AS DOUBLE)*CAST(q_vec[5] AS DOUBLE) + CAST(q_vec[6] AS DOUBLE)*CAST(q_vec[6] AS DOUBLE) + CAST(q_vec[7] AS DOUBLE)*CAST(q_vec[7] AS DOUBLE) + CAST(q_vec[8] AS DOUBLE)*CAST(q_vec[8] AS DOUBLE) + CAST(q_vec[9] AS DOUBLE)*CAST(q_vec[9] AS DOUBLE) + CAST(q_vec[10] AS DOUBLE)*CAST(q_vec[10] AS DOUBLE) + CAST(q_vec[11] AS DOUBLE)*CAST(q_vec[11] AS DOUBLE) + CAST(q_vec[12] AS DOUBLE)*CAST(q_vec[12] AS DOUBLE) + CAST(q_vec[13] AS DOUBLE)*CAST(q_vec[13] AS DOUBLE) + CAST(q_vec[14] AS DOUBLE)*CAST(q_vec[14] AS DOUBLE) + CAST(q_vec[15] AS DOUBLE)*CAST(q_vec[15] AS DOUBLE) + CAST(q_vec[16] AS DOUBLE)*CAST(q_vec[16] AS DOUBLE) + CAST(q_vec[17] AS DOUBLE)*CAST(q_vec[17] AS DOUBLE) + CAST(q_vec[18] AS DOUBLE)*CAST(q_vec[18] AS DOUBLE) + CAST(q_vec[19] AS DOUBLE)*CAST(q_vec[19] AS DOUBLE) + CAST(q_vec[20] AS DOUBLE)*CAST(q_vec[20] AS DOUBLE) + CAST(q_vec[21] AS DOUBLE)*CAST(q_vec[21] AS DOUBLE) + CAST(q_vec[22] AS DOUBLE)*CAST(q_vec[22] AS DOUBLE) + CAST(q_vec[23] AS DOUBLE)*CAST(q_vec[23] AS DOUBLE) + CAST(q_vec[24] AS DOUBLE)*CAST(q_vec[24] AS DOUBLE) + CAST(q_vec[25] AS DOUBLE)*CAST(q_vec[25] AS DOUBLE) + CAST(q_vec[26] AS DOUBLE)*CAST(q_vec[26] AS DOUBLE) + CAST(q_vec[27] AS DOUBLE)*CAST(q_vec[27] AS DOUBLE) + CAST(q_vec[28] AS DOUBLE)*CAST(q_vec[28] AS DOUBLE) + CAST(q_vec[29] AS DOUBLE)*CAST(q_vec[29] AS DOUBLE) + CAST(q_vec[30] AS DOUBLE)*CAST(q_vec[30] AS DOUBLE) + CAST(q_vec[31] AS DOUBLE)*CAST(q_vec[31] AS DOUBLE) + CAST(q_vec[32] AS DOUBLE)*CAST(q_vec[32] AS DOUBLE) + CAST(q_vec[33] AS DOUBLE)*CAST(q_vec[33] AS DOUBLE) + CAST(q_vec[34] AS DOUBLE)*CAST(q_vec[34] AS DOUBLE) + CAST(q_vec[35] AS DOUBLE)*CAST(q_vec[35] AS DOUBLE) + CAST(q_vec[36] AS DOUBLE)*CAST(q_vec[36] AS DOUBLE) + CAST(q_vec[37] AS DOUBLE)*CAST(q_vec[37] AS DOUBLE) + CAST(q_vec[38] AS DOUBLE)*CAST(q_vec[38] AS DOUBLE) + CAST(q_vec[39] AS DOUBLE)*CAST(q_vec[39] AS DOUBLE) + CAST(q_vec[40] AS DOUBLE)*CAST(q_vec[40] AS DOUBLE) + CAST(q_vec[41] AS DOUBLE)*CAST(q_vec[41] AS DOUBLE) + CAST(q_vec[42] AS DOUBLE)*CAST(q_vec[42] AS DOUBLE) + CAST(q_vec[43] AS DOUBLE)*CAST(q_vec[43] AS DOUBLE) + CAST(q_vec[44] AS DOUBLE)*CAST(q_vec[44] AS DOUBLE) + CAST(q_vec[45] AS DOUBLE)*CAST(q_vec[45] AS DOUBLE) + CAST(q_vec[46] AS DOUBLE)*CAST(q_vec[46] AS DOUBLE) + CAST(q_vec[47] AS DOUBLE)*CAST(q_vec[47] AS DOUBLE) + CAST(q_vec[48] AS DOUBLE)*CAST(q_vec[48] AS DOUBLE) + CAST(q_vec[49] AS DOUBLE)*CAST(q_vec[49] AS DOUBLE) + CAST(q_vec[50] AS DOUBLE)*CAST(q_vec[50] AS DOUBLE) + CAST(q_vec[51] AS DOUBLE)*CAST(q_vec[51] AS DOUBLE) + CAST(q_vec[52] AS DOUBLE)*CAST(q_vec[52] AS DOUBLE) + CAST(q_vec[53] AS DOUBLE)*CAST(q_vec[53] AS DOUBLE) + CAST(q_vec[54] AS DOUBLE)*CAST(q_vec[54] AS DOUBLE) + CAST(q_vec[55] AS DOUBLE)*CAST(q_vec[55] AS DOUBLE) + CAST(q_vec[56] AS DOUBLE)*CAST(q_vec[56] AS DOUBLE) + CAST(q_vec[57] AS DOUBLE)*CAST(q_vec[57] AS DOUBLE) + CAST(q_vec[58] AS DOUBLE)*CAST(q_vec[58] AS DOUBLE) + CAST(q_vec[59] AS DOUBLE)*CAST(q_vec[59] AS DOUBLE) + CAST(q_vec[60] AS DOUBLE)*CAST(q_vec[60] AS DOUBLE) + CAST(q_vec[61] AS DOUBLE)*CAST(q_vec[61] AS DOUBLE) + CAST(q_vec[62] AS DOUBLE)*CAST(q_vec[62] AS DOUBLE) + CAST(q_vec[63] AS DOUBLE)*CAST(q_vec[63] AS DOUBLE) + CAST(q_vec[64] AS DOUBLE)*CAST(q_vec[64] AS DOUBLE))) * sqrt((0.0 + CAST(c_vec[1] AS DOUBLE)*CAST(c_vec[1] AS DOUBLE) + CAST(c_vec[2] AS DOUBLE)*CAST(c_vec[2] AS DOUBLE) + CAST(c_vec[3] AS DOUBLE)*CAST(c_vec[3] AS DOUBLE) + CAST(c_vec[4] AS DOUBLE)*CAST(c_vec[4] AS DOUBLE) + CAST(c_vec[5] AS DOUBLE)*CAST(c_vec[5] AS DOUBLE) + CAST(c_vec[6] AS DOUBLE)*CAST(c_vec[6] AS DOUBLE) + CAST(c_vec[7] AS DOUBLE)*CAST(c_vec[7] AS DOUBLE) + CAST(c_vec[8] AS DOUBLE)*CAST(c_vec[8] AS DOUBLE) + CAST(c_vec[9] AS DOUBLE)*CAST(c_vec[9] AS DOUBLE) + CAST(c_vec[10] AS DOUBLE)*CAST(c_vec[10] AS DOUBLE) + CAST(c_vec[11] AS DOUBLE)*CAST(c_vec[11] AS DOUBLE) + CAST(c_vec[12] AS DOUBLE)*CAST(c_vec[12] AS DOUBLE) + CAST(c_vec[13] AS DOUBLE)*CAST(c_vec[13] AS DOUBLE) + CAST(c_vec[14] AS DOUBLE)*CAST(c_vec[14] AS DOUBLE) + CAST(c_vec[15] AS DOUBLE)*CAST(c_vec[15] AS DOUBLE) + CAST(c_vec[16] AS DOUBLE)*CAST(c_vec[16] AS DOUBLE) + CAST(c_vec[17] AS DOUBLE)*CAST(c_vec[17] AS DOUBLE) + CAST(c_vec[18] AS DOUBLE)*CAST(c_vec[18] AS DOUBLE) + CAST(c_vec[19] AS DOUBLE)*CAST(c_vec[19] AS DOUBLE) + CAST(c_vec[20] AS DOUBLE)*CAST(c_vec[20] AS DOUBLE) + CAST(c_vec[21] AS DOUBLE)*CAST(c_vec[21] AS DOUBLE) + CAST(c_vec[22] AS DOUBLE)*CAST(c_vec[22] AS DOUBLE) + CAST(c_vec[23] AS DOUBLE)*CAST(c_vec[23] AS DOUBLE) + CAST(c_vec[24] AS DOUBLE)*CAST(c_vec[24] AS DOUBLE) + CAST(c_vec[25] AS DOUBLE)*CAST(c_vec[25] AS DOUBLE) + CAST(c_vec[26] AS DOUBLE)*CAST(c_vec[26] AS DOUBLE) + CAST(c_vec[27] AS DOUBLE)*CAST(c_vec[27] AS DOUBLE) + CAST(c_vec[28] AS DOUBLE)*CAST(c_vec[28] AS DOUBLE) + CAST(c_vec[29] AS DOUBLE)*CAST(c_vec[29] AS DOUBLE) + CAST(c_vec[30] AS DOUBLE)*CAST(c_vec[30] AS DOUBLE) + CAST(c_vec[31] AS DOUBLE)*CAST(c_vec[31] AS DOUBLE) + CAST(c_vec[32] AS DOUBLE)*CAST(c_vec[32] AS DOUBLE) + CAST(c_vec[33] AS DOUBLE)*CAST(c_vec[33] AS DOUBLE) + CAST(c_vec[34] AS DOUBLE)*CAST(c_vec[34] AS DOUBLE) + CAST(c_vec[35] AS DOUBLE)*CAST(c_vec[35] AS DOUBLE) + CAST(c_vec[36] AS DOUBLE)*CAST(c_vec[36] AS DOUBLE) + CAST(c_vec[37] AS DOUBLE)*CAST(c_vec[37] AS DOUBLE) + CAST(c_vec[38] AS DOUBLE)*CAST(c_vec[38] AS DOUBLE) + CAST(c_vec[39] AS DOUBLE)*CAST(c_vec[39] AS DOUBLE) + CAST(c_vec[40] AS DOUBLE)*CAST(c_vec[40] AS DOUBLE) + CAST(c_vec[41] AS DOUBLE)*CAST(c_vec[41] AS DOUBLE) + CAST(c_vec[42] AS DOUBLE)*CAST(c_vec[42] AS DOUBLE) + CAST(c_vec[43] AS DOUBLE)*CAST(c_vec[43] AS DOUBLE) + CAST(c_vec[44] AS DOUBLE)*CAST(c_vec[44] AS DOUBLE) + CAST(c_vec[45] AS DOUBLE)*CAST(c_vec[45] AS DOUBLE) + CAST(c_vec[46] AS DOUBLE)*CAST(c_vec[46] AS DOUBLE) + CAST(c_vec[47] AS DOUBLE)*CAST(c_vec[47] AS DOUBLE) + CAST(c_vec[48] AS DOUBLE)*CAST(c_vec[48] AS DOUBLE) + CAST(c_vec[49] AS DOUBLE)*CAST(c_vec[49] AS DOUBLE) + CAST(c_vec[50] AS DOUBLE)*CAST(c_vec[50] AS DOUBLE) + CAST(c_vec[51] AS DOUBLE)*CAST(c_vec[51] AS DOUBLE) + CAST(c_vec[52] AS DOUBLE)*CAST(c_vec[52] AS DOUBLE) + CAST(c_vec[53] AS DOUBLE)*CAST(c_vec[53] AS DOUBLE) + CAST(c_vec[54] AS DOUBLE)*CAST(c_vec[54] AS DOUBLE) + CAST(c_vec[55] AS DOUBLE)*CAST(c_vec[55] AS DOUBLE) + CAST(c_vec[56] AS DOUBLE)*CAST(c_vec[56] AS DOUBLE) + CAST(c_vec[57] AS DOUBLE)*CAST(c_vec[57] AS DOUBLE) + CAST(c_vec[58] AS DOUBLE)*CAST(c_vec[58] AS DOUBLE) + CAST(c_vec[59] AS DOUBLE)*CAST(c_vec[59] AS DOUBLE) + CAST(c_vec[60] AS DOUBLE)*CAST(c_vec[60] AS DOUBLE) + CAST(c_vec[61] AS DOUBLE)*CAST(c_vec[61] AS DOUBLE) + CAST(c_vec[62] AS DOUBLE)*CAST(c_vec[62] AS DOUBLE) + CAST(c_vec[63] AS DOUBLE)*CAST(c_vec[63] AS DOUBLE) + CAST(c_vec[64] AS DOUBLE)*CAST(c_vec[64] AS DOUBLE)))) AS cos_sim
  FROM q, c WHERE q_id <> neighbor_id),
r AS (
  SELECT q_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
  FROM s)
SELECT q_id, neighbor_id, cos_sim, "rank" FROM r WHERE "rank" <= 5
),
approx AS (
WITH base AS (
  SELECT vec_id, embedding,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (2.1699867207380645) + CAST(embedding[2] AS DOUBLE) * (-1.1079786469680795) + CAST(embedding[3] AS DOUBLE) * (0.32589852902934197) + CAST(embedding[4] AS DOUBLE) * (-0.2613181260001577) + CAST(embedding[5] AS DOUBLE) * (-0.8792737317600035) + CAST(embedding[6] AS DOUBLE) * (-0.5738432527438687) + CAST(embedding[7] AS DOUBLE) * (-0.5189988677338094) + CAST(embedding[8] AS DOUBLE) * (-0.09930180207886077) + CAST(embedding[9] AS DOUBLE) * (0.3865300173736704) + CAST(embedding[10] AS DOUBLE) * (1.0132288958817026) + CAST(embedding[11] AS DOUBLE) * (0.1993937448867829) + CAST(embedding[12] AS DOUBLE) * (1.083652184372391) + CAST(embedding[13] AS DOUBLE) * (0.41838593160240717) + CAST(embedding[14] AS DOUBLE) * (0.06563800441896446) + CAST(embedding[15] AS DOUBLE) * (-0.2600355441139246) + CAST(embedding[16] AS DOUBLE) * (-1.0129882532193426) + CAST(embedding[17] AS DOUBLE) * (-1.6227835267832889) + CAST(embedding[18] AS DOUBLE) * (-0.12908990923609442) + CAST(embedding[19] AS DOUBLE) * (-0.21779878046596632) + CAST(embedding[20] AS DOUBLE) * (0.26667982053102357) + CAST(embedding[21] AS DOUBLE) * (0.27541138031975404) + CAST(embedding[22] AS DOUBLE) * (-1.3050186513030222) + CAST(embedding[23] AS DOUBLE) * (-0.7617561033214943) + CAST(embedding[24] AS DOUBLE) * (-1.1662421256928086) + CAST(embedding[25] AS DOUBLE) * (0.9333744438300192) + CAST(embedding[26] AS DOUBLE) * (-0.17358590709943209) + CAST(embedding[27] AS DOUBLE) * (0.058939725195320716) + CAST(embedding[28] AS DOUBLE) * (-0.9572998593896521) + CAST(embedding[29] AS DOUBLE) * (-1.3218914690449026) + CAST(embedding[30] AS DOUBLE) * (-0.6429267245125667) + CAST(embedding[31] AS DOUBLE) * (-0.16666669030021375) + CAST(embedding[32] AS DOUBLE) * (0.38922269236616275) + CAST(embedding[33] AS DOUBLE) * (-1.5698649077430762) + CAST(embedding[34] AS DOUBLE) * (0.2580906391925216) + CAST(embedding[35] AS DOUBLE) * (-0.9174271914240806) + CAST(embedding[36] AS DOUBLE) * (-0.5871590042364816) + CAST(embedding[37] AS DOUBLE) * (-0.3967328554866439) + CAST(embedding[38] AS DOUBLE) * (-0.4944293277464607) + CAST(embedding[39] AS DOUBLE) * (0.3836936908556341) + CAST(embedding[40] AS DOUBLE) * (0.7963452140503653) + CAST(embedding[41] AS DOUBLE) * (0.2653578014361696) + CAST(embedding[42] AS DOUBLE) * (-0.6040877453680568) + CAST(embedding[43] AS DOUBLE) * (0.34311174030663366) + CAST(embedding[44] AS DOUBLE) * (0.2998265924250336) + CAST(embedding[45] AS DOUBLE) * (0.7790426349105024) + CAST(embedding[46] AS DOUBLE) * (0.19446738261662008) + CAST(embedding[47] AS DOUBLE) * (-1.6632085503210128) + CAST(embedding[48] AS DOUBLE) * (-0.8189728069149812) + CAST(embedding[49] AS DOUBLE) * (-0.46707926266240857) + CAST(embedding[50] AS DOUBLE) * (0.8395293649822554) + CAST(embedding[51] AS DOUBLE) * (-0.20417990201901623) + CAST(embedding[52] AS DOUBLE) * (0.8278803215597093) + CAST(embedding[53] AS DOUBLE) * (0.2176122939560562) + CAST(embedding[54] AS DOUBLE) * (-1.2430574445381901) + CAST(embedding[55] AS DOUBLE) * (-0.025168925059448097) + CAST(embedding[56] AS DOUBLE) * (0.47538289273474205) + CAST(embedding[57] AS DOUBLE) * (0.3304218683244367) + CAST(embedding[58] AS DOUBLE) * (-1.5319811285805112) + CAST(embedding[59] AS DOUBLE) * (0.34938270914619535) + CAST(embedding[60] AS DOUBLE) * (-0.6493215352430751) + CAST(embedding[61] AS DOUBLE) * (-2.1497412615528795) + CAST(embedding[62] AS DOUBLE) * (-0.6315801328620507) + CAST(embedding[63] AS DOUBLE) * (-2.014360452151887) + CAST(embedding[64] AS DOUBLE) * (-1.3267366695720195)) AS d0,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (1.3493736079095395) + CAST(embedding[2] AS DOUBLE) * (2.3574281217314046) + CAST(embedding[3] AS DOUBLE) * (0.974146861617726) + CAST(embedding[4] AS DOUBLE) * (0.357087420914038) + CAST(embedding[5] AS DOUBLE) * (1.8016409257375818) + CAST(embedding[6] AS DOUBLE) * (0.26638405191451425) + CAST(embedding[7] AS DOUBLE) * (-1.0370842279937875) + CAST(embedding[8] AS DOUBLE) * (-2.4906909937084873) + CAST(embedding[9] AS DOUBLE) * (0.8254096438714261) + CAST(embedding[10] AS DOUBLE) * (-2.2943036014164484) + CAST(embedding[11] AS DOUBLE) * (-2.8931104935975456) + CAST(embedding[12] AS DOUBLE) * (-0.7156833317563337) + CAST(embedding[13] AS DOUBLE) * (-0.005708669074363964) + CAST(embedding[14] AS DOUBLE) * (-0.9217913295819) + CAST(embedding[15] AS DOUBLE) * (0.9602720655965147) + CAST(embedding[16] AS DOUBLE) * (-0.1558601247108059) + CAST(embedding[17] AS DOUBLE) * (0.1385213470528602) + CAST(embedding[18] AS DOUBLE) * (0.37233344158813425) + CAST(embedding[19] AS DOUBLE) * (-0.6466728025715587) + CAST(embedding[20] AS DOUBLE) * (0.14046778335765708) + CAST(embedding[21] AS DOUBLE) * (2.241058348597844) + CAST(embedding[22] AS DOUBLE) * (-0.9936560252826314) + CAST(embedding[23] AS DOUBLE) * (0.09924581890662353) + CAST(embedding[24] AS DOUBLE) * (0.45680624649786206) + CAST(embedding[25] AS DOUBLE) * (-0.5997515566709185) + CAST(embedding[26] AS DOUBLE) * (-0.11039093342551126) + CAST(embedding[27] AS DOUBLE) * (-1.7623232504526851) + CAST(embedding[28] AS DOUBLE) * (-0.4958115189101038) + CAST(embedding[29] AS DOUBLE) * (-0.0201379494688227) + CAST(embedding[30] AS DOUBLE) * (1.0464692871649537) + CAST(embedding[31] AS DOUBLE) * (0.8809726108343329) + CAST(embedding[32] AS DOUBLE) * (-0.6327352439223559) + CAST(embedding[33] AS DOUBLE) * (-1.1621814459462878) + CAST(embedding[34] AS DOUBLE) * (1.7625781817792587) + CAST(embedding[35] AS DOUBLE) * (0.8282498279041635) + CAST(embedding[36] AS DOUBLE) * (-1.9557748532393313) + CAST(embedding[37] AS DOUBLE) * (-0.3933080562650607) + CAST(embedding[38] AS DOUBLE) * (-0.9536681309415094) + CAST(embedding[39] AS DOUBLE) * (-0.6594392644762228) + CAST(embedding[40] AS DOUBLE) * (-1.7626492943072107) + CAST(embedding[41] AS DOUBLE) * (-0.472197460916041) + CAST(embedding[42] AS DOUBLE) * (-0.5672394944152519) + CAST(embedding[43] AS DOUBLE) * (-0.2879880583495375) + CAST(embedding[44] AS DOUBLE) * (0.9854077784688751) + CAST(embedding[45] AS DOUBLE) * (0.17319721429439905) + CAST(embedding[46] AS DOUBLE) * (-1.2644298905718279) + CAST(embedding[47] AS DOUBLE) * (-1.7804125913447617) + CAST(embedding[48] AS DOUBLE) * (-0.577718169360636) + CAST(embedding[49] AS DOUBLE) * (1.0971025606641962) + CAST(embedding[50] AS DOUBLE) * (0.8897058942385211) + CAST(embedding[51] AS DOUBLE) * (-0.6343255841530552) + CAST(embedding[52] AS DOUBLE) * (1.1120537078981618) + CAST(embedding[53] AS DOUBLE) * (0.38607355508082786) + CAST(embedding[54] AS DOUBLE) * (-0.6495553124107992) + CAST(embedding[55] AS DOUBLE) * (0.38593414967709216) + CAST(embedding[56] AS DOUBLE) * (-0.12134036219142272) + CAST(embedding[57] AS DOUBLE) * (-1.1557145875624628) + CAST(embedding[58] AS DOUBLE) * (-0.47464504737753843) + CAST(embedding[59] AS DOUBLE) * (0.12008435874037364) + CAST(embedding[60] AS DOUBLE) * (1.2772627323647865) + CAST(embedding[61] AS DOUBLE) * (-1.0743630492761616) + CAST(embedding[62] AS DOUBLE) * (0.19986415492529624) + CAST(embedding[63] AS DOUBLE) * (-0.017542016902101762) + CAST(embedding[64] AS DOUBLE) * (-0.08713110155989824)) AS d1,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (-1.2577899221671323) + CAST(embedding[2] AS DOUBLE) * (1.2238452093167131) + CAST(embedding[3] AS DOUBLE) * (1.263096024693588) + CAST(embedding[4] AS DOUBLE) * (1.5637409056484606) + CAST(embedding[5] AS DOUBLE) * (0.4346549890366623) + CAST(embedding[6] AS DOUBLE) * (1.4481024662776967) + CAST(embedding[7] AS DOUBLE) * (0.507100012249707) + CAST(embedding[8] AS DOUBLE) * (0.9675054979514186) + CAST(embedding[9] AS DOUBLE) * (-0.3651744157515609) + CAST(embedding[10] AS DOUBLE) * (0.19320234038107062) + CAST(embedding[11] AS DOUBLE) * (-0.3561747033097989) + CAST(embedding[12] AS DOUBLE) * (-1.0870443640097944) + CAST(embedding[13] AS DOUBLE) * (-0.465399551284373) + CAST(embedding[14] AS DOUBLE) * (-1.1544247120052649) + CAST(embedding[15] AS DOUBLE) * (-1.1476073231678856) + CAST(embedding[16] AS DOUBLE) * (-0.42027133190649063) + CAST(embedding[17] AS DOUBLE) * (-0.6330853856097824) + CAST(embedding[18] AS DOUBLE) * (2.0444062851033893) + CAST(embedding[19] AS DOUBLE) * (1.7516585550837993) + CAST(embedding[20] AS DOUBLE) * (1.056693813220963) + CAST(embedding[21] AS DOUBLE) * (0.7676403805488081) + CAST(embedding[22] AS DOUBLE) * (-0.8878444326095933) + CAST(embedding[23] AS DOUBLE) * (0.25208493059671166) + CAST(embedding[24] AS DOUBLE) * (-1.4745464839005809) + CAST(embedding[25] AS DOUBLE) * (-0.6559112954973413) + CAST(embedding[26] AS DOUBLE) * (-0.5092626329019135) + CAST(embedding[27] AS DOUBLE) * (-0.3929214550556583) + CAST(embedding[28] AS DOUBLE) * (0.8398049213708733) + CAST(embedding[29] AS DOUBLE) * (-0.8159739708198376) + CAST(embedding[30] AS DOUBLE) * (2.399401534052994) + CAST(embedding[31] AS DOUBLE) * (-0.537288680108295) + CAST(embedding[32] AS DOUBLE) * (0.8318037860239111) + CAST(embedding[33] AS DOUBLE) * (-1.6112314486636563) + CAST(embedding[34] AS DOUBLE) * (0.8915986994252159) + CAST(embedding[35] AS DOUBLE) * (-1.2579555057468832) + CAST(embedding[36] AS DOUBLE) * (0.17694713662863804) + CAST(embedding[37] AS DOUBLE) * (-0.027799675848140755) + CAST(embedding[38] AS DOUBLE) * (0.806772028799457) + CAST(embedding[39] AS DOUBLE) * (0.5931122307963466) + CAST(embedding[40] AS DOUBLE) * (0.3716502220952085) + CAST(embedding[41] AS DOUBLE) * (-0.17044108877256595) + CAST(embedding[42] AS DOUBLE) * (1.9482546830194398) + CAST(embedding[43] AS DOUBLE) * (-0.4836175932225871) + CAST(embedding[44] AS DOUBLE) * (-0.0075057864212346405) + CAST(embedding[45] AS DOUBLE) * (-0.49385748676794844) + CAST(embedding[46] AS DOUBLE) * (0.11783361787735049) + CAST(embedding[47] AS DOUBLE) * (-0.9887567934156685) + CAST(embedding[48] AS DOUBLE) * (-0.4354688770225977) + CAST(embedding[49] AS DOUBLE) * (0.48738439368472414) + CAST(embedding[50] AS DOUBLE) * (-0.602248233707375) + CAST(embedding[51] AS DOUBLE) * (0.4466700731791106) + CAST(embedding[52] AS DOUBLE) * (-0.6078380273189347) + CAST(embedding[53] AS DOUBLE) * (1.4097234509113148) + CAST(embedding[54] AS DOUBLE) * (-0.1546127976471008) + CAST(embedding[55] AS DOUBLE) * (1.749526258188258) + CAST(embedding[56] AS DOUBLE) * (0.4807392105214751) + CAST(embedding[57] AS DOUBLE) * (-0.15217871610095032) + CAST(embedding[58] AS DOUBLE) * (0.9361867677371898) + CAST(embedding[59] AS DOUBLE) * (1.1532396953425783) + CAST(embedding[60] AS DOUBLE) * (1.5176908046780375) + CAST(embedding[61] AS DOUBLE) * (1.3803800500086394) + CAST(embedding[62] AS DOUBLE) * (0.8805727241350567) + CAST(embedding[63] AS DOUBLE) * (-1.1960999758221535) + CAST(embedding[64] AS DOUBLE) * (0.9190929105729782)) AS d2,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (-0.10792485825603078) + CAST(embedding[2] AS DOUBLE) * (0.3890662859329336) + CAST(embedding[3] AS DOUBLE) * (1.25611361970282) + CAST(embedding[4] AS DOUBLE) * (-0.7410543634213287) + CAST(embedding[5] AS DOUBLE) * (1.3219520960862796) + CAST(embedding[6] AS DOUBLE) * (2.393301535353535) + CAST(embedding[7] AS DOUBLE) * (0.5400220323247202) + CAST(embedding[8] AS DOUBLE) * (-0.3341185904146626) + CAST(embedding[9] AS DOUBLE) * (1.3642857310773209) + CAST(embedding[10] AS DOUBLE) * (0.16451609607500065) + CAST(embedding[11] AS DOUBLE) * (1.040910589547841) + CAST(embedding[12] AS DOUBLE) * (1.2446772140820774) + CAST(embedding[13] AS DOUBLE) * (-1.541449720077563) + CAST(embedding[14] AS DOUBLE) * (0.30534870637785144) + CAST(embedding[15] AS DOUBLE) * (-1.5538648135614217) + CAST(embedding[16] AS DOUBLE) * (-0.7287070272880077) + CAST(embedding[17] AS DOUBLE) * (0.5912253194840534) + CAST(embedding[18] AS DOUBLE) * (-1.223766592640582) + CAST(embedding[19] AS DOUBLE) * (-0.7469985407047881) + CAST(embedding[20] AS DOUBLE) * (-0.48331609778728823) + CAST(embedding[21] AS DOUBLE) * (0.29323698553435634) + CAST(embedding[22] AS DOUBLE) * (0.32880305059786946) + CAST(embedding[23] AS DOUBLE) * (0.42292750142841234) + CAST(embedding[24] AS DOUBLE) * (-0.5316968847836061) + CAST(embedding[25] AS DOUBLE) * (-0.7815327894493503) + CAST(embedding[26] AS DOUBLE) * (0.3885821285897724) + CAST(embedding[27] AS DOUBLE) * (-0.9019256859772758) + CAST(embedding[28] AS DOUBLE) * (-0.8431287655483993) + CAST(embedding[29] AS DOUBLE) * (0.6772483102750041) + CAST(embedding[30] AS DOUBLE) * (-0.8287843545557869) + CAST(embedding[31] AS DOUBLE) * (-0.9384932157294542) + CAST(embedding[32] AS DOUBLE) * (1.1071798435579583) + CAST(embedding[33] AS DOUBLE) * (-0.07440455496353912) + CAST(embedding[34] AS DOUBLE) * (-2.2775948085229505) + CAST(embedding[35] AS DOUBLE) * (-0.79017412740223) + CAST(embedding[36] AS DOUBLE) * (1.930574431303024) + CAST(embedding[37] AS DOUBLE) * (2.8226402963339505) + CAST(embedding[38] AS DOUBLE) * (-0.3307794847808993) + CAST(embedding[39] AS DOUBLE) * (0.6730651408558647) + CAST(embedding[40] AS DOUBLE) * (0.7095176547927833) + CAST(embedding[41] AS DOUBLE) * (0.28316427614264444) + CAST(embedding[42] AS DOUBLE) * (-1.864358022953004) + CAST(embedding[43] AS DOUBLE) * (0.9718854661777622) + CAST(embedding[44] AS DOUBLE) * (0.24638743285914722) + CAST(embedding[45] AS DOUBLE) * (-0.27244905984874274) + CAST(embedding[46] AS DOUBLE) * (-1.66304355295086) + CAST(embedding[47] AS DOUBLE) * (-0.6709920247726548) + CAST(embedding[48] AS DOUBLE) * (-0.1503908533056657) + CAST(embedding[49] AS DOUBLE) * (-0.28949208451087605) + CAST(embedding[50] AS DOUBLE) * (0.19196836969485986) + CAST(embedding[51] AS DOUBLE) * (-0.4235170800033746) + CAST(embedding[52] AS DOUBLE) * (0.9672949728957527) + CAST(embedding[53] AS DOUBLE) * (0.590253985117911) + CAST(embedding[54] AS DOUBLE) * (-1.1964754181940807) + CAST(embedding[55] AS DOUBLE) * (-0.6452014455967686) + CAST(embedding[56] AS DOUBLE) * (0.38505006237926204) + CAST(embedding[57] AS DOUBLE) * (-0.5943814896782081) + CAST(embedding[58] AS DOUBLE) * (1.3669637123527583) + CAST(embedding[59] AS DOUBLE) * (-0.5807502167189974) + CAST(embedding[60] AS DOUBLE) * (0.20719471705297313) + CAST(embedding[61] AS DOUBLE) * (0.570329499551438) + CAST(embedding[62] AS DOUBLE) * (-1.1785388641264671) + CAST(embedding[63] AS DOUBLE) * (1.2141881064610243) + CAST(embedding[64] AS DOUBLE) * (-0.25129379946410557)) AS d3,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (-0.7560079060022217) + CAST(embedding[2] AS DOUBLE) * (-0.7378716810667721) + CAST(embedding[3] AS DOUBLE) * (-1.742103590024213) + CAST(embedding[4] AS DOUBLE) * (-1.4098247094809109) + CAST(embedding[5] AS DOUBLE) * (1.4606447943546157) + CAST(embedding[6] AS DOUBLE) * (-0.17250578728386445) + CAST(embedding[7] AS DOUBLE) * (-0.3257948499277712) + CAST(embedding[8] AS DOUBLE) * (0.15270946996446674) + CAST(embedding[9] AS DOUBLE) * (0.5350676819345033) + CAST(embedding[10] AS DOUBLE) * (-0.8408099477723523) + CAST(embedding[11] AS DOUBLE) * (-0.25358510438853565) + CAST(embedding[12] AS DOUBLE) * (0.23089693522171328) + CAST(embedding[13] AS DOUBLE) * (0.9723717677086743) + CAST(embedding[14] AS DOUBLE) * (0.21176691849489224) + CAST(embedding[15] AS DOUBLE) * (1.622072076161329) + CAST(embedding[16] AS DOUBLE) * (-0.259737305653496) + CAST(embedding[17] AS DOUBLE) * (-0.3803284367555525) + CAST(embedding[18] AS DOUBLE) * (-1.4364123113950473) + CAST(embedding[19] AS DOUBLE) * (-0.08705007687666258) + CAST(embedding[20] AS DOUBLE) * (0.6015317838054497) + CAST(embedding[21] AS DOUBLE) * (-0.29001595831040544) + CAST(embedding[22] AS DOUBLE) * (-0.2173328068914763) + CAST(embedding[23] AS DOUBLE) * (-1.0226848930297348) + CAST(embedding[24] AS DOUBLE) * (-0.631809466748631) + CAST(embedding[25] AS DOUBLE) * (-0.49060269685145164) + CAST(embedding[26] AS DOUBLE) * (-0.1342081390565126) + CAST(embedding[27] AS DOUBLE) * (1.0316457343628445) + CAST(embedding[28] AS DOUBLE) * (0.46658264248356673) + CAST(embedding[29] AS DOUBLE) * (0.8737551066402791) + CAST(embedding[30] AS DOUBLE) * (1.1348800686150466) + CAST(embedding[31] AS DOUBLE) * (-0.5087715850370743) + CAST(embedding[32] AS DOUBLE) * (1.296037404449276) + CAST(embedding[33] AS DOUBLE) * (0.0018052562936504235) + CAST(embedding[34] AS DOUBLE) * (-1.36565838460654) + CAST(embedding[35] AS DOUBLE) * (-0.6500127193478521) + CAST(embedding[36] AS DOUBLE) * (-0.13071091507238033) + CAST(embedding[37] AS DOUBLE) * (-1.5837538403030738) + CAST(embedding[38] AS DOUBLE) * (2.2628369079538735) + CAST(embedding[39] AS DOUBLE) * (-0.09521879011087905) + CAST(embedding[40] AS DOUBLE) * (0.8124042003523465) + CAST(embedding[41] AS DOUBLE) * (-1.255509101479582) + CAST(embedding[42] AS DOUBLE) * (0.0530108005322944) + CAST(embedding[43] AS DOUBLE) * (0.21182726651582146) + CAST(embedding[44] AS DOUBLE) * (-0.8092799626437538) + CAST(embedding[45] AS DOUBLE) * (0.20626903737753405) + CAST(embedding[46] AS DOUBLE) * (-0.04907170187196181) + CAST(embedding[47] AS DOUBLE) * (0.3258436076148109) + CAST(embedding[48] AS DOUBLE) * (-1.2571816902337878) + CAST(embedding[49] AS DOUBLE) * (0.4688023114122624) + CAST(embedding[50] AS DOUBLE) * (-0.33539208585959696) + CAST(embedding[51] AS DOUBLE) * (-0.9039221037915418) + CAST(embedding[52] AS DOUBLE) * (-2.2507551654725955) + CAST(embedding[53] AS DOUBLE) * (-0.24311613959906464) + CAST(embedding[54] AS DOUBLE) * (-0.4234778923387934) + CAST(embedding[55] AS DOUBLE) * (2.3241261682014445) + CAST(embedding[56] AS DOUBLE) * (-1.2599687399625334) + CAST(embedding[57] AS DOUBLE) * (1.437920339605771) + CAST(embedding[58] AS DOUBLE) * (1.2018382309577607) + CAST(embedding[59] AS DOUBLE) * (0.3616923881852431) + CAST(embedding[60] AS DOUBLE) * (0.19685995196008332) + CAST(embedding[61] AS DOUBLE) * (0.44871021855705817) + CAST(embedding[62] AS DOUBLE) * (-1.5310097755490863) + CAST(embedding[63] AS DOUBLE) * (1.3629990284110212) + CAST(embedding[64] AS DOUBLE) * (-0.37575527691480226)) AS d4,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (-0.7947778644467747) + CAST(embedding[2] AS DOUBLE) * (-0.05852227728787731) + CAST(embedding[3] AS DOUBLE) * (-2.8045415901619384) + CAST(embedding[4] AS DOUBLE) * (-1.3817059570353538) + CAST(embedding[5] AS DOUBLE) * (-1.234285363554774) + CAST(embedding[6] AS DOUBLE) * (-1.6260875570033846) + CAST(embedding[7] AS DOUBLE) * (0.5283780595294192) + CAST(embedding[8] AS DOUBLE) * (1.541627876647064) + CAST(embedding[9] AS DOUBLE) * (-0.04380232236531185) + CAST(embedding[10] AS DOUBLE) * (-0.3808693638733885) + CAST(embedding[11] AS DOUBLE) * (0.26569696955107225) + CAST(embedding[12] AS DOUBLE) * (-0.5628030454699816) + CAST(embedding[13] AS DOUBLE) * (0.07242262333062274) + CAST(embedding[14] AS DOUBLE) * (0.34797569121261673) + CAST(embedding[15] AS DOUBLE) * (-0.28899664155805754) + CAST(embedding[16] AS DOUBLE) * (-0.47273353990752054) + CAST(embedding[17] AS DOUBLE) * (0.008928680217665505) + CAST(embedding[18] AS DOUBLE) * (-0.0013740579127432837) + CAST(embedding[19] AS DOUBLE) * (0.6161441992327087) + CAST(embedding[20] AS DOUBLE) * (-1.5708830259208595) + CAST(embedding[21] AS DOUBLE) * (-1.181197430345938) + CAST(embedding[22] AS DOUBLE) * (-0.5494965129653983) + CAST(embedding[23] AS DOUBLE) * (0.4223235129329929) + CAST(embedding[24] AS DOUBLE) * (-1.3582479165312398) + CAST(embedding[25] AS DOUBLE) * (1.1434705589262233) + CAST(embedding[26] AS DOUBLE) * (1.3711530838883825) + CAST(embedding[27] AS DOUBLE) * (-0.8041058814045516) + CAST(embedding[28] AS DOUBLE) * (1.0518710262188335) + CAST(embedding[29] AS DOUBLE) * (-2.1584687113921723) + CAST(embedding[30] AS DOUBLE) * (-0.1689834391167954) + CAST(embedding[31] AS DOUBLE) * (-1.6827624623764945) + CAST(embedding[32] AS DOUBLE) * (1.004328081148524) + CAST(embedding[33] AS DOUBLE) * (0.7737494782789223) + CAST(embedding[34] AS DOUBLE) * (0.43687846229075655) + CAST(embedding[35] AS DOUBLE) * (-0.658512441565811) + CAST(embedding[36] AS DOUBLE) * (-1.2081362876944632) + CAST(embedding[37] AS DOUBLE) * (0.33760528864078715) + CAST(embedding[38] AS DOUBLE) * (-0.5934512271284091) + CAST(embedding[39] AS DOUBLE) * (0.5951157345614863) + CAST(embedding[40] AS DOUBLE) * (-1.679699071166524) + CAST(embedding[41] AS DOUBLE) * (0.34202596439694716) + CAST(embedding[42] AS DOUBLE) * (0.42926377823421663) + CAST(embedding[43] AS DOUBLE) * (-2.3607228054565166) + CAST(embedding[44] AS DOUBLE) * (-1.3620562678720927) + CAST(embedding[45] AS DOUBLE) * (-0.7983500770069416) + CAST(embedding[46] AS DOUBLE) * (-0.6926084979201165) + CAST(embedding[47] AS DOUBLE) * (-1.8194963117993583) + CAST(embedding[48] AS DOUBLE) * (-0.07854544950212143) + CAST(embedding[49] AS DOUBLE) * (-1.2284275858154199) + CAST(embedding[50] AS DOUBLE) * (-0.17315255289660084) + CAST(embedding[51] AS DOUBLE) * (-1.9322142868596925) + CAST(embedding[52] AS DOUBLE) * (-1.2829044054762906) + CAST(embedding[53] AS DOUBLE) * (0.5952853448404123) + CAST(embedding[54] AS DOUBLE) * (-1.8166389063657566) + CAST(embedding[55] AS DOUBLE) * (-0.13762472518828797) + CAST(embedding[56] AS DOUBLE) * (1.346990270951265) + CAST(embedding[57] AS DOUBLE) * (0.705411932804584) + CAST(embedding[58] AS DOUBLE) * (-1.426605036010627) + CAST(embedding[59] AS DOUBLE) * (2.120494170569089) + CAST(embedding[60] AS DOUBLE) * (-0.6623332053082052) + CAST(embedding[61] AS DOUBLE) * (0.8284020450783798) + CAST(embedding[62] AS DOUBLE) * (0.8562258373216443) + CAST(embedding[63] AS DOUBLE) * (-0.42454557593913733) + CAST(embedding[64] AS DOUBLE) * (0.5281384850286454)) AS d5,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (-2.867178892919951) + CAST(embedding[2] AS DOUBLE) * (-0.014412160718381457) + CAST(embedding[3] AS DOUBLE) * (0.05234612813163368) + CAST(embedding[4] AS DOUBLE) * (-0.4539318170208948) + CAST(embedding[5] AS DOUBLE) * (0.013701766992264827) + CAST(embedding[6] AS DOUBLE) * (0.9606269994654866) + CAST(embedding[7] AS DOUBLE) * (0.8327750862020745) + CAST(embedding[8] AS DOUBLE) * (-0.7328008429279502) + CAST(embedding[9] AS DOUBLE) * (0.6805314377419137) + CAST(embedding[10] AS DOUBLE) * (1.065252544549058) + CAST(embedding[11] AS DOUBLE) * (0.0048729387265171184) + CAST(embedding[12] AS DOUBLE) * (0.2795742562054778) + CAST(embedding[13] AS DOUBLE) * (-2.5594752096923545) + CAST(embedding[14] AS DOUBLE) * (-1.6851241814078173) + CAST(embedding[15] AS DOUBLE) * (0.26466288962501844) + CAST(embedding[16] AS DOUBLE) * (-1.6109355687952482) + CAST(embedding[17] AS DOUBLE) * (0.7376584319939369) + CAST(embedding[18] AS DOUBLE) * (1.051484392930078) + CAST(embedding[19] AS DOUBLE) * (-1.1004340464023763) + CAST(embedding[20] AS DOUBLE) * (-1.279068917041472) + CAST(embedding[21] AS DOUBLE) * (-0.31261795810011056) + CAST(embedding[22] AS DOUBLE) * (0.10877375391194066) + CAST(embedding[23] AS DOUBLE) * (0.7059803345572462) + CAST(embedding[24] AS DOUBLE) * (-0.3447156772701103) + CAST(embedding[25] AS DOUBLE) * (-0.08120720538357118) + CAST(embedding[26] AS DOUBLE) * (-1.1141969123870266) + CAST(embedding[27] AS DOUBLE) * (0.1655998241668755) + CAST(embedding[28] AS DOUBLE) * (-0.8926007260578619) + CAST(embedding[29] AS DOUBLE) * (0.8836023148699121) + CAST(embedding[30] AS DOUBLE) * (0.5801154661864193) + CAST(embedding[31] AS DOUBLE) * (-1.759705839340602) + CAST(embedding[32] AS DOUBLE) * (0.2221101930249379) + CAST(embedding[33] AS DOUBLE) * (-1.2190700721734948) + CAST(embedding[34] AS DOUBLE) * (0.8424955329791077) + CAST(embedding[35] AS DOUBLE) * (-1.1579934780764047) + CAST(embedding[36] AS DOUBLE) * (1.139089755685921) + CAST(embedding[37] AS DOUBLE) * (0.9439159185507873) + CAST(embedding[38] AS DOUBLE) * (1.8304775554308583) + CAST(embedding[39] AS DOUBLE) * (0.20583113624178975) + CAST(embedding[40] AS DOUBLE) * (-0.07499538209307) + CAST(embedding[41] AS DOUBLE) * (1.0925066694797367) + CAST(embedding[42] AS DOUBLE) * (-1.3480225719696288) + CAST(embedding[43] AS DOUBLE) * (-0.16584562030131741) + CAST(embedding[44] AS DOUBLE) * (-0.44313981341190406) + CAST(embedding[45] AS DOUBLE) * (-0.1847504751802749) + CAST(embedding[46] AS DOUBLE) * (-1.7087477710841579) + CAST(embedding[47] AS DOUBLE) * (-1.8059707894328) + CAST(embedding[48] AS DOUBLE) * (-1.835201970038044) + CAST(embedding[49] AS DOUBLE) * (1.339074565462185) + CAST(embedding[50] AS DOUBLE) * (-0.4636362240881753) + CAST(embedding[51] AS DOUBLE) * (0.49650648104102196) + CAST(embedding[52] AS DOUBLE) * (-0.2528953507577495) + CAST(embedding[53] AS DOUBLE) * (-0.36709714971435986) + CAST(embedding[54] AS DOUBLE) * (1.1724477771919464) + CAST(embedding[55] AS DOUBLE) * (-2.446486246367169) + CAST(embedding[56] AS DOUBLE) * (-0.3509582401849051) + CAST(embedding[57] AS DOUBLE) * (-0.9154003343631736) + CAST(embedding[58] AS DOUBLE) * (-1.050769234423314) + CAST(embedding[59] AS DOUBLE) * (-1.7456655979827571) + CAST(embedding[60] AS DOUBLE) * (-1.6657081932238365) + CAST(embedding[61] AS DOUBLE) * (-1.3293466137499275) + CAST(embedding[62] AS DOUBLE) * (0.9605050948599068) + CAST(embedding[63] AS DOUBLE) * (-0.8203851403567584) + CAST(embedding[64] AS DOUBLE) * (-0.5972739542453126)) AS d6,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (-0.3065241704037289) + CAST(embedding[2] AS DOUBLE) * (0.4896361685534745) + CAST(embedding[3] AS DOUBLE) * (0.902841462015473) + CAST(embedding[4] AS DOUBLE) * (0.06196851579279813) + CAST(embedding[5] AS DOUBLE) * (-0.1277036103461595) + CAST(embedding[6] AS DOUBLE) * (0.3912936543923712) + CAST(embedding[7] AS DOUBLE) * (-0.9258198733492586) + CAST(embedding[8] AS DOUBLE) * (0.08470690411887269) + CAST(embedding[9] AS DOUBLE) * (1.5566867966361193) + CAST(embedding[10] AS DOUBLE) * (-0.7808313528887589) + CAST(embedding[11] AS DOUBLE) * (-0.9854699391548791) + CAST(embedding[12] AS DOUBLE) * (-1.6683336560385666) + CAST(embedding[13] AS DOUBLE) * (-0.07676378939745575) + CAST(embedding[14] AS DOUBLE) * (0.49125802572320415) + CAST(embedding[15] AS DOUBLE) * (-0.5544581959512096) + CAST(embedding[16] AS DOUBLE) * (-0.45690176428784984) + CAST(embedding[17] AS DOUBLE) * (1.0473897506741645) + CAST(embedding[18] AS DOUBLE) * (-0.09867944161778038) + CAST(embedding[19] AS DOUBLE) * (0.5668522899972447) + CAST(embedding[20] AS DOUBLE) * (-0.4926806964875525) + CAST(embedding[21] AS DOUBLE) * (1.1678215007051747) + CAST(embedding[22] AS DOUBLE) * (0.7800953667303611) + CAST(embedding[23] AS DOUBLE) * (-0.27005431883325964) + CAST(embedding[24] AS DOUBLE) * (-0.7201201782050053) + CAST(embedding[25] AS DOUBLE) * (2.4101526094836845) + CAST(embedding[26] AS DOUBLE) * (-1.1938702258857508) + CAST(embedding[27] AS DOUBLE) * (-1.0837671518955354) + CAST(embedding[28] AS DOUBLE) * (-2.605430611221645) + CAST(embedding[29] AS DOUBLE) * (0.5631159272889905) + CAST(embedding[30] AS DOUBLE) * (-0.05979369278736619) + CAST(embedding[31] AS DOUBLE) * (-0.20377928571933876) + CAST(embedding[32] AS DOUBLE) * (-1.642884187312021) + CAST(embedding[33] AS DOUBLE) * (-0.10347895122531219) + CAST(embedding[34] AS DOUBLE) * (-0.9049566453366972) + CAST(embedding[35] AS DOUBLE) * (-1.2828102907396286) + CAST(embedding[36] AS DOUBLE) * (-0.3580340226410346) + CAST(embedding[37] AS DOUBLE) * (0.19100384998267478) + CAST(embedding[38] AS DOUBLE) * (-0.2630523883776923) + CAST(embedding[39] AS DOUBLE) * (-0.615741925059664) + CAST(embedding[40] AS DOUBLE) * (0.614134732768068) + CAST(embedding[41] AS DOUBLE) * (0.1285628495320423) + CAST(embedding[42] AS DOUBLE) * (-0.48111949365043144) + CAST(embedding[43] AS DOUBLE) * (0.4585404724321882) + CAST(embedding[44] AS DOUBLE) * (0.1872047376906648) + CAST(embedding[45] AS DOUBLE) * (0.797192492326439) + CAST(embedding[46] AS DOUBLE) * (0.7120455700242393) + CAST(embedding[47] AS DOUBLE) * (0.6225385345312664) + CAST(embedding[48] AS DOUBLE) * (-0.6999147038257569) + CAST(embedding[49] AS DOUBLE) * (1.1982937931859536) + CAST(embedding[50] AS DOUBLE) * (0.8838890781065778) + CAST(embedding[51] AS DOUBLE) * (-0.6459344655986408) + CAST(embedding[52] AS DOUBLE) * (1.1296765027760798) + CAST(embedding[53] AS DOUBLE) * (-0.01645034361594869) + CAST(embedding[54] AS DOUBLE) * (-1.1031497528717316) + CAST(embedding[55] AS DOUBLE) * (-0.14576797065044073) + CAST(embedding[56] AS DOUBLE) * (-1.3826115321466308) + CAST(embedding[57] AS DOUBLE) * (1.0117615755188765) + CAST(embedding[58] AS DOUBLE) * (-1.3602385683642157) + CAST(embedding[59] AS DOUBLE) * (1.3472380540651037) + CAST(embedding[60] AS DOUBLE) * (-0.9633846161181444) + CAST(embedding[61] AS DOUBLE) * (-0.2383014785117158) + CAST(embedding[62] AS DOUBLE) * (1.1610250601941312) + CAST(embedding[63] AS DOUBLE) * (0.24445652009324711) + CAST(embedding[64] AS DOUBLE) * (-1.7353167618425036)) AS d7,
         (0.0 + CAST(embedding[1] AS DOUBLE)*CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE)*CAST(embedding[2] AS DOUBLE) + CAST(embedding[3] AS DOUBLE)*CAST(embedding[3] AS DOUBLE) + CAST(embedding[4] AS DOUBLE)*CAST(embedding[4] AS DOUBLE) + CAST(embedding[5] AS DOUBLE)*CAST(embedding[5] AS DOUBLE) + CAST(embedding[6] AS DOUBLE)*CAST(embedding[6] AS DOUBLE) + CAST(embedding[7] AS DOUBLE)*CAST(embedding[7] AS DOUBLE) + CAST(embedding[8] AS DOUBLE)*CAST(embedding[8] AS DOUBLE) + CAST(embedding[9] AS DOUBLE)*CAST(embedding[9] AS DOUBLE) + CAST(embedding[10] AS DOUBLE)*CAST(embedding[10] AS DOUBLE) + CAST(embedding[11] AS DOUBLE)*CAST(embedding[11] AS DOUBLE) + CAST(embedding[12] AS DOUBLE)*CAST(embedding[12] AS DOUBLE) + CAST(embedding[13] AS DOUBLE)*CAST(embedding[13] AS DOUBLE) + CAST(embedding[14] AS DOUBLE)*CAST(embedding[14] AS DOUBLE) + CAST(embedding[15] AS DOUBLE)*CAST(embedding[15] AS DOUBLE) + CAST(embedding[16] AS DOUBLE)*CAST(embedding[16] AS DOUBLE) + CAST(embedding[17] AS DOUBLE)*CAST(embedding[17] AS DOUBLE) + CAST(embedding[18] AS DOUBLE)*CAST(embedding[18] AS DOUBLE) + CAST(embedding[19] AS DOUBLE)*CAST(embedding[19] AS DOUBLE) + CAST(embedding[20] AS DOUBLE)*CAST(embedding[20] AS DOUBLE) + CAST(embedding[21] AS DOUBLE)*CAST(embedding[21] AS DOUBLE) + CAST(embedding[22] AS DOUBLE)*CAST(embedding[22] AS DOUBLE) + CAST(embedding[23] AS DOUBLE)*CAST(embedding[23] AS DOUBLE) + CAST(embedding[24] AS DOUBLE)*CAST(embedding[24] AS DOUBLE) + CAST(embedding[25] AS DOUBLE)*CAST(embedding[25] AS DOUBLE) + CAST(embedding[26] AS DOUBLE)*CAST(embedding[26] AS DOUBLE) + CAST(embedding[27] AS DOUBLE)*CAST(embedding[27] AS DOUBLE) + CAST(embedding[28] AS DOUBLE)*CAST(embedding[28] AS DOUBLE) + CAST(embedding[29] AS DOUBLE)*CAST(embedding[29] AS DOUBLE) + CAST(embedding[30] AS DOUBLE)*CAST(embedding[30] AS DOUBLE) + CAST(embedding[31] AS DOUBLE)*CAST(embedding[31] AS DOUBLE) + CAST(embedding[32] AS DOUBLE)*CAST(embedding[32] AS DOUBLE) + CAST(embedding[33] AS DOUBLE)*CAST(embedding[33] AS DOUBLE) + CAST(embedding[34] AS DOUBLE)*CAST(embedding[34] AS DOUBLE) + CAST(embedding[35] AS DOUBLE)*CAST(embedding[35] AS DOUBLE) + CAST(embedding[36] AS DOUBLE)*CAST(embedding[36] AS DOUBLE) + CAST(embedding[37] AS DOUBLE)*CAST(embedding[37] AS DOUBLE) + CAST(embedding[38] AS DOUBLE)*CAST(embedding[38] AS DOUBLE) + CAST(embedding[39] AS DOUBLE)*CAST(embedding[39] AS DOUBLE) + CAST(embedding[40] AS DOUBLE)*CAST(embedding[40] AS DOUBLE) + CAST(embedding[41] AS DOUBLE)*CAST(embedding[41] AS DOUBLE) + CAST(embedding[42] AS DOUBLE)*CAST(embedding[42] AS DOUBLE) + CAST(embedding[43] AS DOUBLE)*CAST(embedding[43] AS DOUBLE) + CAST(embedding[44] AS DOUBLE)*CAST(embedding[44] AS DOUBLE) + CAST(embedding[45] AS DOUBLE)*CAST(embedding[45] AS DOUBLE) + CAST(embedding[46] AS DOUBLE)*CAST(embedding[46] AS DOUBLE) + CAST(embedding[47] AS DOUBLE)*CAST(embedding[47] AS DOUBLE) + CAST(embedding[48] AS DOUBLE)*CAST(embedding[48] AS DOUBLE) + CAST(embedding[49] AS DOUBLE)*CAST(embedding[49] AS DOUBLE) + CAST(embedding[50] AS DOUBLE)*CAST(embedding[50] AS DOUBLE) + CAST(embedding[51] AS DOUBLE)*CAST(embedding[51] AS DOUBLE) + CAST(embedding[52] AS DOUBLE)*CAST(embedding[52] AS DOUBLE) + CAST(embedding[53] AS DOUBLE)*CAST(embedding[53] AS DOUBLE) + CAST(embedding[54] AS DOUBLE)*CAST(embedding[54] AS DOUBLE) + CAST(embedding[55] AS DOUBLE)*CAST(embedding[55] AS DOUBLE) + CAST(embedding[56] AS DOUBLE)*CAST(embedding[56] AS DOUBLE) + CAST(embedding[57] AS DOUBLE)*CAST(embedding[57] AS DOUBLE) + CAST(embedding[58] AS DOUBLE)*CAST(embedding[58] AS DOUBLE) + CAST(embedding[59] AS DOUBLE)*CAST(embedding[59] AS DOUBLE) + CAST(embedding[60] AS DOUBLE)*CAST(embedding[60] AS DOUBLE) + CAST(embedding[61] AS DOUBLE)*CAST(embedding[61] AS DOUBLE) + CAST(embedding[62] AS DOUBLE)*CAST(embedding[62] AS DOUBLE) + CAST(embedding[63] AS DOUBLE)*CAST(embedding[63] AS DOUBLE) + CAST(embedding[64] AS DOUBLE)*CAST(embedding[64] AS DOUBLE)) AS nrm2
  FROM embeddings),
c AS (
  SELECT vec_id AS neighbor_id, embedding AS c_vec, sqrt(nrm2) AS c_norm,
         CASE WHEN d0 >= d1 AND d0 >= d2 AND d0 >= d3 AND d0 >= d4 AND d0 >= d5 AND d0 >= d6 AND d0 >= d7 THEN 0 WHEN d1 >= d0 AND d1 >= d2 AND d1 >= d3 AND d1 >= d4 AND d1 >= d5 AND d1 >= d6 AND d1 >= d7 THEN 1 WHEN d2 >= d0 AND d2 >= d1 AND d2 >= d3 AND d2 >= d4 AND d2 >= d5 AND d2 >= d6 AND d2 >= d7 THEN 2 WHEN d3 >= d0 AND d3 >= d1 AND d3 >= d2 AND d3 >= d4 AND d3 >= d5 AND d3 >= d6 AND d3 >= d7 THEN 3 WHEN d4 >= d0 AND d4 >= d1 AND d4 >= d2 AND d4 >= d3 AND d4 >= d5 AND d4 >= d6 AND d4 >= d7 THEN 4 WHEN d5 >= d0 AND d5 >= d1 AND d5 >= d2 AND d5 >= d3 AND d5 >= d4 AND d5 >= d6 AND d5 >= d7 THEN 5 WHEN d6 >= d0 AND d6 >= d1 AND d6 >= d2 AND d6 >= d3 AND d6 >= d4 AND d6 >= d5 AND d6 >= d7 THEN 6 ELSE 7 END AS list_id
  FROM base),
qd AS (SELECT * FROM base WHERE vec_id < 10),
qs AS (
  SELECT vec_id AS q_id, embedding AS q_vec, sqrt(nrm2) AS q_norm,
         i AS list_id, CASE i WHEN 0 THEN d0 WHEN 1 THEN d1 WHEN 2 THEN d2 WHEN 3 THEN d3 WHEN 4 THEN d4 WHEN 5 THEN d5 WHEN 6 THEN d6 WHEN 7 THEN d7 END AS cd
  FROM qd CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS i)),
probes AS (
  SELECT q_id, q_vec, q_norm, list_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cd DESC, list_id) AS pr FROM qs)
  WHERE pr <= 2),
scored AS (
  SELECT q_id, neighbor_id,
         (0.0 + CAST(q_vec[1] AS DOUBLE)*CAST(c_vec[1] AS DOUBLE) + CAST(q_vec[2] AS DOUBLE)*CAST(c_vec[2] AS DOUBLE) + CAST(q_vec[3] AS DOUBLE)*CAST(c_vec[3] AS DOUBLE) + CAST(q_vec[4] AS DOUBLE)*CAST(c_vec[4] AS DOUBLE) + CAST(q_vec[5] AS DOUBLE)*CAST(c_vec[5] AS DOUBLE) + CAST(q_vec[6] AS DOUBLE)*CAST(c_vec[6] AS DOUBLE) + CAST(q_vec[7] AS DOUBLE)*CAST(c_vec[7] AS DOUBLE) + CAST(q_vec[8] AS DOUBLE)*CAST(c_vec[8] AS DOUBLE) + CAST(q_vec[9] AS DOUBLE)*CAST(c_vec[9] AS DOUBLE) + CAST(q_vec[10] AS DOUBLE)*CAST(c_vec[10] AS DOUBLE) + CAST(q_vec[11] AS DOUBLE)*CAST(c_vec[11] AS DOUBLE) + CAST(q_vec[12] AS DOUBLE)*CAST(c_vec[12] AS DOUBLE) + CAST(q_vec[13] AS DOUBLE)*CAST(c_vec[13] AS DOUBLE) + CAST(q_vec[14] AS DOUBLE)*CAST(c_vec[14] AS DOUBLE) + CAST(q_vec[15] AS DOUBLE)*CAST(c_vec[15] AS DOUBLE) + CAST(q_vec[16] AS DOUBLE)*CAST(c_vec[16] AS DOUBLE) + CAST(q_vec[17] AS DOUBLE)*CAST(c_vec[17] AS DOUBLE) + CAST(q_vec[18] AS DOUBLE)*CAST(c_vec[18] AS DOUBLE) + CAST(q_vec[19] AS DOUBLE)*CAST(c_vec[19] AS DOUBLE) + CAST(q_vec[20] AS DOUBLE)*CAST(c_vec[20] AS DOUBLE) + CAST(q_vec[21] AS DOUBLE)*CAST(c_vec[21] AS DOUBLE) + CAST(q_vec[22] AS DOUBLE)*CAST(c_vec[22] AS DOUBLE) + CAST(q_vec[23] AS DOUBLE)*CAST(c_vec[23] AS DOUBLE) + CAST(q_vec[24] AS DOUBLE)*CAST(c_vec[24] AS DOUBLE) + CAST(q_vec[25] AS DOUBLE)*CAST(c_vec[25] AS DOUBLE) + CAST(q_vec[26] AS DOUBLE)*CAST(c_vec[26] AS DOUBLE) + CAST(q_vec[27] AS DOUBLE)*CAST(c_vec[27] AS DOUBLE) + CAST(q_vec[28] AS DOUBLE)*CAST(c_vec[28] AS DOUBLE) + CAST(q_vec[29] AS DOUBLE)*CAST(c_vec[29] AS DOUBLE) + CAST(q_vec[30] AS DOUBLE)*CAST(c_vec[30] AS DOUBLE) + CAST(q_vec[31] AS DOUBLE)*CAST(c_vec[31] AS DOUBLE) + CAST(q_vec[32] AS DOUBLE)*CAST(c_vec[32] AS DOUBLE) + CAST(q_vec[33] AS DOUBLE)*CAST(c_vec[33] AS DOUBLE) + CAST(q_vec[34] AS DOUBLE)*CAST(c_vec[34] AS DOUBLE) + CAST(q_vec[35] AS DOUBLE)*CAST(c_vec[35] AS DOUBLE) + CAST(q_vec[36] AS DOUBLE)*CAST(c_vec[36] AS DOUBLE) + CAST(q_vec[37] AS DOUBLE)*CAST(c_vec[37] AS DOUBLE) + CAST(q_vec[38] AS DOUBLE)*CAST(c_vec[38] AS DOUBLE) + CAST(q_vec[39] AS DOUBLE)*CAST(c_vec[39] AS DOUBLE) + CAST(q_vec[40] AS DOUBLE)*CAST(c_vec[40] AS DOUBLE) + CAST(q_vec[41] AS DOUBLE)*CAST(c_vec[41] AS DOUBLE) + CAST(q_vec[42] AS DOUBLE)*CAST(c_vec[42] AS DOUBLE) + CAST(q_vec[43] AS DOUBLE)*CAST(c_vec[43] AS DOUBLE) + CAST(q_vec[44] AS DOUBLE)*CAST(c_vec[44] AS DOUBLE) + CAST(q_vec[45] AS DOUBLE)*CAST(c_vec[45] AS DOUBLE) + CAST(q_vec[46] AS DOUBLE)*CAST(c_vec[46] AS DOUBLE) + CAST(q_vec[47] AS DOUBLE)*CAST(c_vec[47] AS DOUBLE) + CAST(q_vec[48] AS DOUBLE)*CAST(c_vec[48] AS DOUBLE) + CAST(q_vec[49] AS DOUBLE)*CAST(c_vec[49] AS DOUBLE) + CAST(q_vec[50] AS DOUBLE)*CAST(c_vec[50] AS DOUBLE) + CAST(q_vec[51] AS DOUBLE)*CAST(c_vec[51] AS DOUBLE) + CAST(q_vec[52] AS DOUBLE)*CAST(c_vec[52] AS DOUBLE) + CAST(q_vec[53] AS DOUBLE)*CAST(c_vec[53] AS DOUBLE) + CAST(q_vec[54] AS DOUBLE)*CAST(c_vec[54] AS DOUBLE) + CAST(q_vec[55] AS DOUBLE)*CAST(c_vec[55] AS DOUBLE) + CAST(q_vec[56] AS DOUBLE)*CAST(c_vec[56] AS DOUBLE) + CAST(q_vec[57] AS DOUBLE)*CAST(c_vec[57] AS DOUBLE) + CAST(q_vec[58] AS DOUBLE)*CAST(c_vec[58] AS DOUBLE) + CAST(q_vec[59] AS DOUBLE)*CAST(c_vec[59] AS DOUBLE) + CAST(q_vec[60] AS DOUBLE)*CAST(c_vec[60] AS DOUBLE) + CAST(q_vec[61] AS DOUBLE)*CAST(c_vec[61] AS DOUBLE) + CAST(q_vec[62] AS DOUBLE)*CAST(c_vec[62] AS DOUBLE) + CAST(q_vec[63] AS DOUBLE)*CAST(c_vec[63] AS DOUBLE) + CAST(q_vec[64] AS DOUBLE)*CAST(c_vec[64] AS DOUBLE)) / (q_norm * c_norm) AS cos_sim
  FROM probes JOIN c USING (list_id)
  WHERE q_id <> neighbor_id),
r AS (
  SELECT q_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS "rank"
  FROM scored)
SELECT q_id, neighbor_id, cos_sim, "rank" FROM r WHERE "rank" <= 5
),
ne AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_exact
       FROM exact GROUP BY q_id),
nh AS (
  SELECT e.q_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM exact e SEMI JOIN approx a
    ON a.q_id = e.q_id AND a.neighbor_id = e.neighbor_id
  GROUP BY e.q_id)
SELECT ne.q_id, ne.n_exact,
       CAST(COALESCE(nh.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(COALESCE(nh.n_hits, 0) AS DOUBLE)
         / CAST(ne.n_exact AS DOUBLE) AS recall_at_5
FROM ne LEFT JOIN nh ON nh.q_id = ne.q_id
ORDER BY ne.q_id
"""

# R98: rolling exact median -- both engines sort the 7-row frame and
# take the lower-median pair sum in exact cents.
ORACLE["rolling_median_revenue"] = """
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS day_num,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders GROUP BY 1),
fr AS (
  SELECT day_num, rev,
         list_sort(list(rev) OVER (ORDER BY day_num
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS frame
  FROM daily),
m AS (
  SELECT day_num, rev,
         CAST(len(frame) AS BIGINT) AS n_frame,
         CAST(frame[CAST((len(frame) + 1) // 2 AS INT)]
              + frame[CAST(len(frame) // 2 + 1 AS INT)] AS BIGINT)
           AS median_x2
  FROM fr)
SELECT day_num, rev, median_x2,
       CAST(median_x2 AS DOUBLE) / 200.0 AS rolling_median
FROM m WHERE n_frame = 7 ORDER BY day_num
"""

# P94: functional-dependency audit -- stacked two-level exact counts.
def _fd_sql(table: str, lhs: str, rhs: str) -> str:
    return f"""
  SELECT '{lhs} -> {rhs}' AS candidate_fd,
         CAST(COUNT(*) AS BIGINT) AS n_lhs_groups,
         CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating,
         CAST(MAX(n_rhs) AS BIGINT) AS max_rhs_distinct,
         MAX(n_rhs) = 1 AS holds
  FROM (SELECT CAST({lhs} AS VARCHAR) AS l,
               CAST(COUNT(DISTINCT CAST({rhs} AS VARCHAR)) AS BIGINT) AS n_rhs
        FROM {table} GROUP BY 1)"""


ORACLE["fd_audit"] = f"""
SELECT * FROM (
{_fd_sql("customer", "c_nationkey", "c_mktsegment")}
UNION ALL {_fd_sql("orders", "o_custkey", "o_orderpriority")}
UNION ALL {_fd_sql("part", "p_type", "p_size")}
UNION ALL {_fd_sql("part", "p_partkey", "p_brand")}
) ORDER BY candidate_fd
"""


# R99: HITS -- unrolled integer mutual reinforcement, MATERIALIZED per
# half-round; max-normalization is integer 1e6*x // max.
ORACLE["part_hits_authority"] = """
WITH e AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS c, l_partkey AS p
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
a1 AS MATERIALIZED (
  SELECT p, CAST(COUNT(*) AS BIGINT) AS a FROM e GROUP BY p),
an1 AS MATERIALIZED (
  SELECT p, CAST((a * 1000000) // (SELECT MAX(a) FROM a1) AS BIGINT) AS an
  FROM a1),
h1 AS MATERIALIZED (
  SELECT e.c, CAST(SUM(an1.an) AS BIGINT) AS h
  FROM e JOIN an1 USING (p) GROUP BY e.c),
hn1 AS MATERIALIZED (
  SELECT c, CAST((h * 1000000) // (SELECT MAX(h) FROM h1) AS BIGINT) AS hn
  FROM h1),
a2 AS MATERIALIZED (
  SELECT e.p, CAST(SUM(hn1.hn) AS BIGINT) AS a
  FROM e JOIN hn1 USING (c) GROUP BY e.p),
an2 AS MATERIALIZED (
  SELECT p, CAST((a * 1000000) // (SELECT MAX(a) FROM a2) AS BIGINT) AS an
  FROM a2),
h2 AS MATERIALIZED (
  SELECT e.c, CAST(SUM(an2.an) AS BIGINT) AS h
  FROM e JOIN an2 USING (p) GROUP BY e.c),
hn2 AS MATERIALIZED (
  SELECT c, CAST((h * 1000000) // (SELECT MAX(h) FROM h2) AS BIGINT) AS hn
  FROM h2),
a3 AS MATERIALIZED (
  SELECT e.p, CAST(SUM(hn2.hn) AS BIGINT) AS a
  FROM e JOIN hn2 USING (c) GROUP BY e.p)
SELECT p AS p_partkey,
       CAST((a * 1000000) // (SELECT MAX(a) FROM a3) AS BIGINT) AS auth_fixed,
       CAST(CAST((a * 1000000) // (SELECT MAX(a) FROM a3) AS BIGINT)
            AS DOUBLE) / 1000000.0 AS authority
FROM a3
ORDER BY auth_fixed DESC, p_partkey LIMIT 20
"""

# P95: trailing-60s burst counts on exact epoch microseconds.
ORACLE["user_burst_detection"] = """
WITH b AS (
  SELECT user_id,
         COUNT(*) OVER (PARTITION BY user_id
                        ORDER BY epoch_us(ts)
                        RANGE BETWEEN 60000000 PRECEDING AND CURRENT ROW)
           AS burst
  FROM events),
per AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(MAX(burst) AS BIGINT) AS max_burst_60s
  FROM b GROUP BY user_id)
SELECT user_id, n_events, max_burst_60s, max_burst_60s >= 3 AS flagged
FROM per ORDER BY user_id
"""

# L78: lexical diversity -- exact ppm integer chains end to end.
ORACLE["source_lexical_diversity"] = r"""
WITH wf AS (
  SELECT doc_id, source, w, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT doc_id, source,
               UNNEST(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        FROM documents)
  GROUP BY doc_id, source, w),
per_doc AS (
  SELECT doc_id, source,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
  FROM wf GROUP BY doc_id, source),
ppm AS (
  SELECT source,
         CAST((1000000 * n_types) // n_tokens AS BIGINT) AS ttr_ppm,
         CAST((1000000 * n_hapax) // n_tokens AS BIGINT) AS hapax_ppm
  FROM per_doc),
g AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(ttr_ppm) AS BIGINT) AS sttr,
         CAST(SUM(hapax_ppm) AS BIGINT) AS shap
  FROM ppm GROUP BY source)
SELECT source, n_docs,
       CAST(sttr // n_docs AS BIGINT) AS mean_ttr_ppm,
       CAST(shap // n_docs AS BIGINT) AS mean_hapax_ppm,
       CAST(CAST(sttr // n_docs AS BIGINT) AS DOUBLE) / 1000000.0 AS mean_ttr
FROM g ORDER BY source
"""


# L79: Matryoshka truncation eval -- 16-dim cosine ranking vs the
# full-dimension ground truth, composed from the same literal chains.
_COS_QC16 = f"{_vdot('q_vec', 'c_vec', 16)} / (sqrt({_vdot('q_vec', 'q_vec', 16)}) * sqrt({_vdot('c_vec', 'c_vec', 16)}))"

ORACLE["matryoshka_recall_eval"] = f"""
WITH exact AS ({ORACLE["knn_bruteforce"]}),
q16 AS (SELECT vec_id AS q_id, embedding AS q_vec
        FROM embeddings WHERE vec_id < 10),
c16 AS (SELECT vec_id AS neighbor_id, embedding AS c_vec FROM embeddings),
s16 AS (
  SELECT q_id, neighbor_id, {_COS_QC16} AS cos_sim
  FROM q16, c16 WHERE q_id <> neighbor_id),
r16 AS (
  SELECT q_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rnk
  FROM s16),
trunc AS (SELECT q_id, neighbor_id FROM r16 WHERE rnk <= 5),
ne AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_exact
       FROM exact GROUP BY q_id),
nh AS (
  SELECT e.q_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM exact e SEMI JOIN trunc t
    ON t.q_id = e.q_id AND t.neighbor_id = e.neighbor_id
  GROUP BY e.q_id)
SELECT ne.q_id, ne.n_exact,
       CAST(COALESCE(nh.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(COALESCE(nh.n_hits, 0) AS DOUBLE)
         / CAST(ne.n_exact AS DOUBLE) AS recall_at_5_dim16
FROM ne LEFT JOIN nh ON nh.q_id = ne.q_id
ORDER BY ne.q_id
"""


# L80: PR curve -- the L9 score chain vs ten literal thresholds,
# exact TP/FP/FN, NULL-safe precision/recall/F1.
ORACLE["quality_pr_curve"] = f"""
WITH x AS (
  SELECT CAST(lang = 'en' AS BIGINT) AS is_pos,
    CAST({_NWORDS} AS BIGINT) AS n_words,
    CAST(len(regexp_extract_all(text, '{_PUNCT_RE}')) AS DOUBLE)
      / length(text) AS punct_ratio,
    CAST(len(regexp_extract_all(lower(text), '{_STOP}')) AS DOUBLE)
      / {_NWORDS} AS stopword_ratio
  FROM documents),
sc AS (
  SELECT is_pos,
         0.4 * stopword_ratio + 0.3 * (1.0 - punct_ratio)
           + 0.3 * LEAST(1.0, n_words / 100.0) AS s
  FROM x),
th AS (SELECT CAST(UNNEST(range(0, 10)) AS DOUBLE) / 10.0 AS threshold),
j AS (
  SELECT th.threshold, sc.is_pos,
         CAST(sc.s >= th.threshold AS BIGINT) AS pred
  FROM sc CROSS JOIN th),
g AS (
  SELECT threshold,
         CAST(SUM(pred * is_pos) AS BIGINT) AS tp,
         CAST(SUM(pred * (1 - is_pos)) AS BIGINT) AS fp,
         CAST(SUM((1 - pred) * is_pos) AS BIGINT) AS fn
  FROM j GROUP BY threshold)
SELECT threshold, tp, fp, fn,
       CASE WHEN tp + fp > 0 THEN
         CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
       CASE WHEN tp + fn > 0 THEN
         CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
       CASE WHEN tp + fp > 0 AND tp + fn > 0
             AND CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
                 + CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) > 0 THEN
         (2.0 * (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))
              * (CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)))
         / (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
            + CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)) END AS f1
FROM g ORDER BY threshold
"""

# R100: Hill power-law estimator on co-purchase degrees.
ORACLE["copurchase_degree_powerlaw"] = """
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
allv AS (SELECT u AS p FROM e0 UNION ALL SELECT v FROM e0),
deg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS deg FROM allv GROUP BY p),
d AS (SELECT deg FROM deg WHERE deg >= 2),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_tail,
         CAST(SUM(CAST(FLOOR(ln(CAST(deg AS DOUBLE) / 2.0) * 1000000.0)
                       AS BIGINT)) AS BIGINT) AS sum_lnq,
         CAST(MAX(deg) AS BIGINT) AS max_degree
  FROM d)
SELECT n_tail, max_degree, sum_lnq,
       CASE WHEN sum_lnq != 0 THEN
         1.0 + CAST(n_tail AS DOUBLE) * 1000000.0 / CAST(sum_lnq AS DOUBLE)
       END AS alpha_hill
FROM g
"""


# L81: simplified silhouette -- L51 fixed-point centroids rebuilt as
# ordered arrays, literal fold-order distance chains, qsum(6) means.
ORACLE["embedding_silhouette"] = f"""
WITH cells AS (
  SELECT CAST(label AS BIGINT) AS label,
         CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
         CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000.0)
              AS BIGINT) AS xq
  FROM embeddings),
per_cell AS (
  SELECT label, pos, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         CAST(SUM(xq) AS BIGINT) AS sq
  FROM cells GROUP BY label, pos),
cents AS (
  SELECT label,
         list(CAST(sq AS DOUBLE) / CAST(n_vecs * 1000000 AS DOUBLE)
              ORDER BY pos) AS c_vec
  FROM per_cell GROUP BY label),
v AS (SELECT vec_id, CAST(label AS BIGINT) AS label, embedding AS vec
      FROM embeddings),
d AS (
  SELECT v.vec_id, v.label, c.label AS c_label,
         1.0 - {_vdot('vec', 'c_vec')}
           / (sqrt({_vdot('vec', 'vec')}) * sqrt({_vdot('c_vec', 'c_vec')}))
           AS dist
  FROM v CROSS JOIN cents c),
own AS (
  SELECT vec_id, label, dist AS a FROM d WHERE label = c_label),
other AS (
  SELECT vec_id, MIN(dist) AS b FROM d WHERE label != c_label
  GROUP BY vec_id),
sil AS (
  SELECT o.label, (t.b - o.a) / GREATEST(o.a, t.b) AS sil
  FROM own o JOIN other t USING (vec_id))
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       ({sql_qsum('sil', 6)}) / CAST(COUNT(*) AS DOUBLE) AS mean_silhouette
FROM sil GROUP BY label ORDER BY label
"""


# L82: SQ reconstruction-error report -- identical literal-scale
# quantize (the knn_sq_flat idiom), exact ppb integer error chains.
ORACLE["sq_quantization_error"] = """
WITH cells AS (
  SELECT CAST(label AS BIGINT) AS label,
         CAST(UNNEST(embedding) AS DOUBLE) AS x
  FROM embeddings),
e AS (
  SELECT label,
         CAST(FLOOR(ABS(x - CAST(GREATEST(-127, LEAST(127,
                CAST(round(x / 0.013385826771653543) AS INT))) AS DOUBLE)
                * 0.013385826771653543) * 1000000000.0) AS BIGINT) AS eq
  FROM cells),
g AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(SUM(eq) AS BIGINT) AS sum_err,
         CAST(MAX(eq) AS BIGINT) AS max_err_ppb
  FROM e GROUP BY label)
SELECT label, n_cells,
       CAST(sum_err // n_cells AS BIGINT) AS mean_err_ppb,
       max_err_ppb,
       CAST(CAST(sum_err // n_cells AS BIGINT) AS DOUBLE) / 1000000000.0
         AS mean_abs_err
FROM g ORDER BY label
"""

# L83: token-budget selection -- per-language greedy prefix on
# (tokens DESC, doc_id), window cumsum (test scale; the Spark side is
# the distributed prefix sum).
ORACLE["corpus_token_budget"] = f"""
WITH d AS (
  SELECT lang, doc_id,
         CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT)
           AS tokens
  FROM documents),
cum AS (
  SELECT lang, doc_id, tokens,
         CAST(SUM(tokens) OVER (PARTITION BY lang
                ORDER BY tokens DESC, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_lang
  FROM d),
sel AS (SELECT * FROM cum WHERE cum_lang <= 2000),
g AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_selected,
         CAST(MAX(cum_lang) AS BIGINT) AS tokens_selected
  FROM sel GROUP BY lang)
SELECT lang, n_selected, tokens_selected,
       CAST(2000 AS BIGINT) AS budget,
       CAST((1000000 * tokens_selected) // 2000 AS BIGINT) AS fill_ppm
FROM g ORDER BY lang
"""

# P96: double-fire audit -- exact microsecond lag gaps per (user, type).
ORACLE["event_double_fire_audit"] = """
WITH x AS (
  SELECT event_type,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER (
           PARTITION BY user_id, event_type
           ORDER BY epoch_us(ts), event_id) AS gap_us
  FROM events),
g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN gap_us IS NOT NULL AND gap_us <= 60000000
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_double_fired
  FROM x GROUP BY event_type)
SELECT event_type, n_events, n_double_fired,
       CAST((1000000 * n_double_fired) // n_events AS BIGINT)
         AS double_fire_ppm
FROM g ORDER BY event_type
"""


# R101: ABC-XYZ matrix -- R82's prefix-sum ABC x exact cross-multiplied
# CV^2 classes over the fixed global week span (zeros never
# materialized).
ORACLE["part_abc_xyz"] = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT))
              AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey),
cum AS (
  SELECT l_partkey, cents,
         CAST(SUM(cents) OVER (ORDER BY -cents, l_partkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_cents
  FROM per_part),
tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM per_part),
abc AS (
  SELECT l_partkey, cents,
         CASE WHEN cum_cents * 100 <= total * 80 THEN 'A'
              WHEN cum_cents * 100 <= total * 95 THEN 'B'
              ELSE 'C' END AS abc
  FROM cum, tot),
weekly AS (
  SELECT l_partkey,
         date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) // 7
           AS week,
         CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2),
span AS (
  SELECT CAST(MAX(date_diff('day', DATE '1970-01-01',
                            CAST(l_shipdate AS DATE)) // 7)
              - MIN(date_diff('day', DATE '1970-01-01',
                              CAST(l_shipdate AS DATE)) // 7) + 1
              AS BIGINT) AS w
  FROM lineitem),
mom AS (
  SELECT l_partkey,
         SUM(CAST(q AS HUGEINT)) AS s,
         SUM(CAST(q AS HUGEINT) * q) AS qq
  FROM weekly GROUP BY l_partkey),
xyz AS (
  SELECT l_partkey,
         CASE WHEN 4 * (w * (w * qq - s * s)) <= (w - 1) * (s * s) THEN 'X'
              WHEN w * (w * qq - s * s) <= (w - 1) * (s * s) THEN 'Y'
              ELSE 'Z' END AS xyz
  FROM mom, span)
SELECT abc.abc, xyz.xyz,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(CAST(SUM(abc.cents) AS BIGINT) AS DOUBLE) / 100.0 AS revenue
FROM abc JOIN xyz USING (l_partkey)
GROUP BY abc.abc, xyz.xyz
ORDER BY abc.abc, xyz.xyz
"""

# R102: per-brand discount/quantity correlation -- exact moments,
# int_to_double close (R95 discipline).
ORACLE["brand_discount_quantity_corr"] = """
WITH j AS (
  SELECT p.p_brand,
         CAST(FLOOR(l.l_discount * 10000.0) AS BIGINT) AS x,
         CAST(FLOOR(l.l_quantity) AS BIGINT) AS y
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
agg AS (
  SELECT p_brand,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         SUM(CAST(x AS HUGEINT)) AS sx,
         SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM j GROUP BY p_brand),
z AS (
  SELECT p_brand, n_lines,
         CAST(n_lines AS HUGEINT) * sxy - sx * sy AS num,
         CAST(n_lines AS HUGEINT) * sxx - sx * sx AS denx,
         CAST(n_lines AS HUGEINT) * syy - sy * sy AS deny
  FROM agg)
SELECT p_brand, n_lines,
       CASE WHEN denx > 0 AND deny > 0 THEN
         (CASE WHEN (num) < 0 THEN -1.0 ELSE 1.0 END) * (CAST(ABS(num) // 4294967296 AS DOUBLE) * 4294967296.0 + CAST(ABS(num) % 4294967296 AS DOUBLE))
           / sqrt((CASE WHEN (denx) < 0 THEN -1.0 ELSE 1.0 END) * (CAST(ABS(denx) // 4294967296 AS DOUBLE) * 4294967296.0 + CAST(ABS(denx) % 4294967296 AS DOUBLE)) * (CASE WHEN (deny) < 0 THEN -1.0 ELSE 1.0 END) * (CAST(ABS(deny) // 4294967296 AS DOUBLE) * 4294967296.0 + CAST(ABS(deny) % 4294967296 AS DOUBLE)))
       END AS discount_qty_corr
FROM z ORDER BY p_brand
"""

ORACLE["supplier_return_outliers"] = """
WITH per AS (
  SELECT l_suppkey,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_returned
  FROM lineitem GROUP BY l_suppkey),
tot AS (
  SELECT CAST(SUM(n_lines) AS BIGINT) AS nt,
         CAST(SUM(n_returned) AS BIGINT) AS rt
  FROM per)
SELECT l_suppkey, n_lines, n_returned,
       CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE) AS return_rate,
       CAST(rt AS DOUBLE) / CAST(nt AS DOUBLE) AS overall_rate,
       CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE)
         > CAST(rt AS DOUBLE) / CAST(nt AS DOUBLE)
           + 3.0 * sqrt((CAST(rt AS DOUBLE) / CAST(nt AS DOUBLE))
                * (1.0 - CAST(rt AS DOUBLE) / CAST(nt AS DOUBLE))
                / CAST(n_lines AS DOUBLE)) AS flag_high,
       CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE)
         < CAST(rt AS DOUBLE) / CAST(nt AS DOUBLE)
           - 3.0 * sqrt((CAST(rt AS DOUBLE) / CAST(nt AS DOUBLE))
                * (1.0 - CAST(rt AS DOUBLE) / CAST(nt AS DOUBLE))
                / CAST(n_lines AS DOUBLE)) AS flag_low
FROM per, tot ORDER BY l_suppkey
"""


# R103: higher moments -- exact HUGEINT raw moments (whole dollars),
# three-limb int_to_double, mirrored central-moment chains.
ORACLE["segment_value_moments"] = """
WITH j AS (
  SELECT c.c_mktsegment AS segment,
         CAST(FLOOR(o.o_totalprice) AS BIGINT) AS v
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
g AS (
  SELECT segment,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(v AS HUGEINT)) AS s1,
         SUM(CAST(v AS HUGEINT) * v) AS s2,
         SUM(CAST(v AS HUGEINT) * v * v) AS s3,
         SUM(CAST(v AS HUGEINT) * v * v * v) AS s4
  FROM j GROUP BY segment),
r AS (
  SELECT segment, n,
         (CASE WHEN (s1) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(s1) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(s1) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(s1) % 4294967296 AS DOUBLE)) / CAST(n AS DOUBLE) AS r1,
         (CASE WHEN (s2) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(s2) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(s2) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(s2) % 4294967296 AS DOUBLE)) / CAST(n AS DOUBLE) AS r2,
         (CASE WHEN (s3) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(s3) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(s3) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(s3) % 4294967296 AS DOUBLE)) / CAST(n AS DOUBLE) AS r3,
         (CASE WHEN (s4) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(s4) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(s4) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(s4) % 4294967296 AS DOUBLE)) / CAST(n AS DOUBLE) AS r4
  FROM g),
m AS (
  SELECT segment, n, r1,
         r2 - r1 * r1 AS mu2,
         r3 - 3.0 * r1 * r2 + 2.0 * r1 * r1 * r1 AS mu3,
         r4 - 4.0 * r1 * r3 + 6.0 * r1 * r1 * r2
            - 3.0 * r1 * r1 * r1 * r1 AS mu4
  FROM r),
z AS (
  SELECT segment, n, r1,
         CASE WHEN sqrt(mu2) * mu2 != 0
              THEN mu3 / (sqrt(mu2) * mu2) END AS skew,
         CASE WHEN mu2 * mu2 != 0 THEN mu4 / (mu2 * mu2) END AS kurt
  FROM m)
SELECT segment, n, r1 AS mean_value, skew AS skewness,
       kurt - 3.0 AS excess_kurtosis,
       CASE WHEN kurt != 0 THEN (skew * skew + 1.0) / kurt END
         AS bimodality_coeff
FROM z ORDER BY segment
"""

# R104: md5-seeded randomization test -- the portable 15-hex-digit
# parity idiom, exact group sums, mirrored gap chains.
ORACLE["order_value_permutation_test"] = """
WITH base AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS k,
         o_orderpriority = '1-URGENT' AS g_obs,
         CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS v
  FROM orders),
obs AS (
  SELECT ABS(
    CASE WHEN SUM(CASE WHEN g_obs THEN 1 ELSE 0 END) > 0 THEN
      ((CASE WHEN (SUM(CAST(CASE WHEN g_obs THEN v ELSE 0 END AS HUGEINT))) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(SUM(CAST(CASE WHEN g_obs THEN v ELSE 0 END AS HUGEINT))) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(SUM(CAST(CASE WHEN g_obs THEN v ELSE 0 END AS HUGEINT))) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(SUM(CAST(CASE WHEN g_obs THEN v ELSE 0 END AS HUGEINT))) % 4294967296 AS DOUBLE)))
      / CAST(SUM(CASE WHEN g_obs THEN 1 ELSE 0 END) AS DOUBLE) END
    -
    CASE WHEN SUM(CASE WHEN g_obs THEN 0 ELSE 1 END) > 0 THEN
      ((CASE WHEN (SUM(CAST(CASE WHEN g_obs THEN 0 ELSE v END AS HUGEINT))) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(SUM(CAST(CASE WHEN g_obs THEN 0 ELSE v END AS HUGEINT))) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(SUM(CAST(CASE WHEN g_obs THEN 0 ELSE v END AS HUGEINT))) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(SUM(CAST(CASE WHEN g_obs THEN 0 ELSE v END AS HUGEINT))) % 4294967296 AS DOUBLE)))
      / CAST(SUM(CASE WHEN g_obs THEN 0 ELSE 1 END) AS DOUBLE) END
  ) AS gap_obs
  FROM base),
perms AS (SELECT CAST(UNNEST(range(1, 20)) AS INT) AS perm),
ex AS (
  SELECT p.perm, b.v,
         CAST(('0x' || substr(md5(b.k || ':' || CAST(p.perm AS VARCHAR)),
                              1, 15)) AS BIGINT) % 2 = 1 AS g
  FROM base b CROSS JOIN perms p),
gaps AS (
  SELECT perm, ABS(
    CASE WHEN SUM(CASE WHEN g THEN 1 ELSE 0 END) > 0 THEN
      ((CASE WHEN (SUM(CAST(CASE WHEN g THEN v ELSE 0 END AS HUGEINT))) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(SUM(CAST(CASE WHEN g THEN v ELSE 0 END AS HUGEINT))) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(SUM(CAST(CASE WHEN g THEN v ELSE 0 END AS HUGEINT))) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(SUM(CAST(CASE WHEN g THEN v ELSE 0 END AS HUGEINT))) % 4294967296 AS DOUBLE)))
      / CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS DOUBLE) END
    -
    CASE WHEN SUM(CASE WHEN g THEN 0 ELSE 1 END) > 0 THEN
      ((CASE WHEN (SUM(CAST(CASE WHEN g THEN 0 ELSE v END AS HUGEINT))) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(SUM(CAST(CASE WHEN g THEN 0 ELSE v END AS HUGEINT))) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(SUM(CAST(CASE WHEN g THEN 0 ELSE v END AS HUGEINT))) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(SUM(CAST(CASE WHEN g THEN 0 ELSE v END AS HUGEINT))) % 4294967296 AS DOUBLE)))
      / CAST(SUM(CASE WHEN g THEN 0 ELSE 1 END) AS DOUBLE) END
  ) AS gap
  FROM ex GROUP BY perm)
SELECT obs.gap_obs / 100.0 AS observed_gap,
       CAST(COUNT(*) AS BIGINT) AS n_perms,
       CAST(SUM(CASE WHEN gaps.gap >= obs.gap_obs THEN 1 ELSE 0 END)
            AS BIGINT) AS n_as_extreme,
       CAST(CAST(SUM(CASE WHEN gaps.gap >= obs.gap_obs THEN 1 ELSE 0 END)
            AS BIGINT) + 1 AS DOUBLE)
         / CAST(CAST(COUNT(*) AS BIGINT) + 1 AS DOUBLE) AS p_value
FROM gaps, obs
GROUP BY obs.gap_obs
"""


# R105: Holm step-down over the P30 z-tests -- shared literal critical
# values (stdlib inverse normal, computed once in python), 5-row
# ranking + running-AND step-down.
ORACLE["holm_segment_tests"] = """
WITH buyers AS (
  SELECT c_custkey, c_mktsegment FROM customer
  WHERE c_custkey IN (SELECT o_custkey FROM orders)),
per AS (
  SELECT c.c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(MAX(b.k), 0) AS BIGINT) AS k
  FROM customer c
  LEFT JOIN (SELECT c_mktsegment, COUNT(*) AS k FROM buyers
             GROUP BY c_mktsegment) b USING (c_mktsegment)
  GROUP BY c.c_mktsegment),
t AS (
  SELECT *, CAST(SUM(n) OVER () AS BIGINT) AS tot_n,
            CAST(SUM(k) OVER () AS BIGINT) AS tot_k
  FROM per),
z AS (
  SELECT c_mktsegment, n, k,
    CASE WHEN tot_n > n AND tot_k > 0 AND tot_k < tot_n THEN
      (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
       - CAST(tot_k - k AS DOUBLE) / CAST(tot_n - n AS DOUBLE))
      / sqrt((CAST(tot_k AS DOUBLE) / CAST(tot_n AS DOUBLE))
             * (1.0 - CAST(tot_k AS DOUBLE) / CAST(tot_n AS DOUBLE))
             * (1.0 / CAST(n AS DOUBLE)
                + 1.0 / CAST(tot_n - n AS DOUBLE)))
    END AS z
  FROM t),
r AS (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY ABS(z) DESC, c_mktsegment)
                 AS BIGINT) AS holm_rank
  FROM z),
c AS (
  SELECT r.*, ([2.5758293035489, 2.4977054744123737, 2.3939797998185104, 2.2414027276049464, 1.9599639845400536])[CAST(holm_rank AS INT)] AS z_crit
  FROM r)
SELECT c_mktsegment, n, k, z, holm_rank, z_crit,
       CAST(MIN(CASE WHEN ABS(z) >= z_crit THEN 1 ELSE 0 END)
              OVER (ORDER BY holm_rank
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
            AS BOOLEAN) AS reject
FROM c ORDER BY holm_rank
"""

# R106: naive-1 vs seasonal-naive-7 MAE on the zero-filled spine.
ORACLE["daily_forecast_baselines"] = """
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS day_num,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders GROUP BY 1),
span AS (SELECT MIN(day_num) AS d0, MAX(day_num) AS d1 FROM daily),
spine AS (SELECT UNNEST(range(d0, d1 + 1)) AS day_num FROM span),
series AS (
  SELECT s.day_num, COALESCE(d.rev, 0) AS rev
  FROM spine s LEFT JOIN daily d USING (day_num)),
x AS (
  SELECT day_num, rev,
         LAG(rev, 1) OVER (ORDER BY day_num) AS p1,
         LAG(rev, 7) OVER (ORDER BY day_num) AS p7
  FROM series),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(ABS(rev - p1)) AS BIGINT) AS ae1,
         CAST(SUM(ABS(rev - p7)) AS BIGINT) AS ae7
  FROM x WHERE p7 IS NOT NULL)
SELECT n_days,
       CAST(CAST(ae1 // n_days AS BIGINT) AS DOUBLE) / 100.0 AS mae_naive1,
       CAST(CAST(ae7 // n_days AS BIGINT) AS DOUBLE) / 100.0 AS mae_naive7,
       CASE WHEN ae1 > 0 THEN CAST(ae7 AS DOUBLE) / CAST(ae1 AS DOUBLE) END
         AS seasonal_vs_naive_ratio
FROM g
"""

# L84: gains/lift deciles on the score ranking (window rank at test
# scale; the Spark side is the distributed frozen-boundary rank).
ORACLE["quality_gains_table"] = f"""
WITH x AS (
  SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS is_pos,
    CAST({_NWORDS} AS BIGINT) AS n_words,
    CAST(len(regexp_extract_all(text, '{_PUNCT_RE}')) AS DOUBLE)
      / length(text) AS punct_ratio,
    CAST(len(regexp_extract_all(lower(text), '{_STOP}')) AS DOUBLE)
      / {_NWORDS} AS stopword_ratio
  FROM documents),
sc AS (
  SELECT doc_id, is_pos,
         -(0.4 * stopword_ratio + 0.3 * (1.0 - punct_ratio)
           + 0.3 * LEAST(1.0, n_words / 100.0)) AS neg_s
  FROM x),
r AS (
  SELECT is_pos,
         CAST(ROW_NUMBER() OVER (ORDER BY neg_s, doc_id) AS BIGINT) AS rn,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_total,
         CAST(SUM(is_pos) OVER () AS BIGINT) AS pos_total
  FROM sc),
d AS (
  SELECT ((rn - 1) * 10) // n_total + 1 AS decile, is_pos,
         n_total, pos_total
  FROM r),
per AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(is_pos) AS BIGINT) AS n_pos,
         CAST(MAX(n_total) AS BIGINT) AS n_total,
         CAST(MAX(pos_total) AS BIGINT) AS pos_total
  FROM d GROUP BY decile),
cum AS (
  SELECT *, CAST(SUM(n_docs) OVER (ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_docs,
            CAST(SUM(n_pos) OVER (ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_pos
  FROM per)
SELECT CAST(decile AS BIGINT) AS decile, n_docs, n_pos, cum_pos,
       CAST(cum_pos AS DOUBLE) / CAST(pos_total AS DOUBLE) AS cum_capture,
       (CAST(cum_pos AS DOUBLE) / CAST(cum_docs AS DOUBLE))
         / (CAST(pos_total AS DOUBLE) / CAST(n_total AS DOUBLE)) AS cum_lift
FROM cum ORDER BY decile
"""

# P100: monthly priority-mix chi2 vs the all-time mix, quantized
# cell sums, literal df=4 critical value.
ORACLE["priority_mix_shift"] = """
WITH cells AS (
  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
         o_orderpriority, CAST(COUNT(*) AS BIGINT) AS o
  FROM orders GROUP BY 1, 2),
overall AS (
  SELECT o_orderpriority, CAST(SUM(o) AS BIGINT) AS k_all
  FROM cells GROUP BY o_orderpriority),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n_all FROM cells),
mt AS (SELECT month, CAST(SUM(o) AS BIGINT) AS m_total
       FROM cells GROUP BY month),
j AS (
  SELECT c.month, c.o, ov.k_all, m.m_total, t.n_all
  FROM cells c
  JOIN overall ov USING (o_orderpriority)
  JOIN mt m USING (month), tot t),
g AS (
  SELECT month, CAST(MAX(m_total) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(floor(((CAST(o AS DOUBLE) - CAST(m_total AS DOUBLE) * CAST(k_all AS DOUBLE) / CAST(n_all AS DOUBLE)) * (CAST(o AS DOUBLE) - CAST(m_total AS DOUBLE) * CAST(k_all AS DOUBLE) / CAST(n_all AS DOUBLE)) / (CAST(m_total AS DOUBLE) * CAST(k_all AS DOUBLE) / CAST(n_all AS DOUBLE))) * 1000000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000.0 AS chi2
  FROM j GROUP BY month)
SELECT month, n_orders, chi2, chi2 > 9.487729036781154 AS mix_shifted
FROM g ORDER BY month
"""


# P101: cross-brand substitution candidates -- (type,size)-blocked
# triangular pairs, exact integer 10% band.
ORACLE["part_substitution_candidates"] = """
WITH p AS (
  SELECT p_partkey, p_brand, p_type, p_size,
         CAST(FLOOR(p_retailprice * 100.0) AS BIGINT) AS cents
  FROM part)
SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
       a.p_type, a.p_size,
       CAST(a.cents AS DOUBLE) / 100.0 AS price_a,
       CAST(b.cents AS DOUBLE) / 100.0 AS price_b,
       CAST(ABS(a.cents - b.cents) AS BIGINT) AS price_gap_cents
FROM p a JOIN p b
  ON a.p_type = b.p_type AND a.p_size = b.p_size
 AND a.p_partkey < b.p_partkey
 AND a.p_brand != b.p_brand
 AND 100 * ABS(a.cents - b.cents) <= 10 * GREATEST(a.cents, b.cents)
ORDER BY price_gap_cents, part_a, part_b
LIMIT 100
"""

# L85: per-source language-mix entropy -- fixed-point lnq chains.
ORACLE["source_language_entropy"] = """
WITH sl AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY source, lang),
g AS (
  SELECT source,
         CAST(SUM(c) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_langs,
         CAST(SUM(c * CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1000000.0)
                           AS BIGINT)) AS BIGINT) AS hsum
  FROM sl GROUP BY source)
SELECT source, n_docs, n_langs,
       CAST(n_docs * CAST(FLOOR(ln(CAST(n_docs AS DOUBLE)) * 1000000.0)
                          AS BIGINT) - hsum AS DOUBLE)
         / (CAST(n_docs AS DOUBLE) * 1000000.0) AS lang_entropy_nats
FROM g ORDER BY source
"""

# R107: weekday-uniformity chi2 -- epoch-day dow, quantized cells,
# literal df=6 critical value.
ORACLE["weekday_uniformity_test"] = """
WITH per AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 7
           AS dow_epoch,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM orders GROUP BY 1),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n_all FROM per),
g AS (
  SELECT CAST(MAX(n_all) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(floor(((CAST(o AS DOUBLE) - CAST(n_all AS DOUBLE) / 7.0) * (CAST(o AS DOUBLE) - CAST(n_all AS DOUBLE) / 7.0) / (CAST(n_all AS DOUBLE) / 7.0)) * 1000000000.0) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000.0 AS chi2
  FROM per, tot)
SELECT p.dow_epoch, p.o,
       CAST(p.o AS DOUBLE) / CAST(t.n_all AS DOUBLE) AS share,
       g.n_orders, g.chi2,
       g.chi2 > 12.591587243743977 AS weekday_effect
FROM per p, tot t, g
ORDER BY p.dow_epoch
"""


# R108: Breusch-Pagan -- the identical OLS fit as broadcast scalars,
# dollar-rescaled quantized residual squares, closed-form LM.
ORACLE["trend_heteroscedasticity_test"] = """
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS day_num,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders GROUP BY 1),
span AS (SELECT MIN(day_num) AS d0, MAX(day_num) AS d1 FROM daily),
spine AS (SELECT UNNEST(range(d0, d1 + 1)) AS day_num FROM span),
series AS (
  SELECT s.day_num, COALESCE(d.rev, 0) AS rev
  FROM spine s LEFT JOIN daily d USING (day_num)),
s2 AS (
  SELECT CAST(series.day_num - span.d0 AS BIGINT) AS x, rev
  FROM series, span),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx,
         SUM(CAST(rev AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * rev) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx
  FROM s2),
fit AS (
  SELECT n,
         CASE WHEN ((CASE WHEN (CAST(n AS HUGEINT) * sxx - sx * sx) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(CAST(n AS HUGEINT) * sxx - sx * sx) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(CAST(n AS HUGEINT) * sxx - sx * sx) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(CAST(n AS HUGEINT) * sxx - sx * sx) % 4294967296 AS DOUBLE))) != 0 THEN ((CASE WHEN (CAST(n AS HUGEINT) * sxy - sx * sy) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(CAST(n AS HUGEINT) * sxy - sx * sy) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(CAST(n AS HUGEINT) * sxy - sx * sy) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(CAST(n AS HUGEINT) * sxy - sx * sy) % 4294967296 AS DOUBLE))) / ((CASE WHEN (CAST(n AS HUGEINT) * sxx - sx * sx) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(CAST(n AS HUGEINT) * sxx - sx * sx) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(CAST(n AS HUGEINT) * sxx - sx * sx) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(CAST(n AS HUGEINT) * sxx - sx * sx) % 4294967296 AS DOUBLE))) END AS b,
         (((CASE WHEN (sy) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(sy) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(sy) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(sy) % 4294967296 AS DOUBLE))) - (CASE WHEN ((CASE WHEN (CAST(n AS HUGEINT) * sxx - sx * sx) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(CAST(n AS HUGEINT) * sxx - sx * sx) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(CAST(n AS HUGEINT) * sxx - sx * sx) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(CAST(n AS HUGEINT) * sxx - sx * sx) % 4294967296 AS DOUBLE))) != 0 THEN ((CASE WHEN (CAST(n AS HUGEINT) * sxy - sx * sy) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(CAST(n AS HUGEINT) * sxy - sx * sy) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(CAST(n AS HUGEINT) * sxy - sx * sy) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(CAST(n AS HUGEINT) * sxy - sx * sy) % 4294967296 AS DOUBLE))) / ((CASE WHEN (CAST(n AS HUGEINT) * sxx - sx * sx) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(CAST(n AS HUGEINT) * sxx - sx * sx) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(CAST(n AS HUGEINT) * sxx - sx * sx) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(CAST(n AS HUGEINT) * sxx - sx * sx) % 4294967296 AS DOUBLE))) END)
            * ((CASE WHEN (sx) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(sx) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(sx) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(sx) % 4294967296 AS DOUBLE)))) / CAST(n AS DOUBLE) AS a
  FROM m),
sf AS (SELECT s2.x, s2.rev, fit.a, fit.b FROM s2, fit),
q AS (
  SELECT x,
         CAST(FLOOR(((CAST(rev AS DOUBLE) - (a + b * CAST(x AS DOUBLE)))
                      * 0.00001)
                    * ((CAST(rev AS DOUBLE) - (a + b * CAST(x AS DOUBLE)))
                       * 0.00001) * 1000.0) AS HUGEINT) AS e2q
  FROM sf),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         SUM(CAST(x AS HUGEINT)) AS sx,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(e2q) AS se,
         SUM(CAST(x AS HUGEINT) * e2q) AS sxe,
         SUM(e2q * e2q) AS see
  FROM q),
z AS (
  SELECT n_days,
         CASE WHEN ((CASE WHEN (CAST(n_days AS HUGEINT) * sxx - sx * sx) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(CAST(n_days AS HUGEINT) * sxx - sx * sx) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(CAST(n_days AS HUGEINT) * sxx - sx * sx) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(CAST(n_days AS HUGEINT) * sxx - sx * sx) % 4294967296 AS DOUBLE))) * ((CASE WHEN (CAST(n_days AS HUGEINT) * see - se * se) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(CAST(n_days AS HUGEINT) * see - se * se) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(CAST(n_days AS HUGEINT) * see - se * se) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(CAST(n_days AS HUGEINT) * see - se * se) % 4294967296 AS DOUBLE))) > 0 THEN
           ((CASE WHEN (CAST(n_days AS HUGEINT) * sxe - sx * se) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(CAST(n_days AS HUGEINT) * sxe - sx * se) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(CAST(n_days AS HUGEINT) * sxe - sx * se) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(CAST(n_days AS HUGEINT) * sxe - sx * se) % 4294967296 AS DOUBLE))) / sqrt(((CASE WHEN (CAST(n_days AS HUGEINT) * sxx - sx * sx) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(CAST(n_days AS HUGEINT) * sxx - sx * sx) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(CAST(n_days AS HUGEINT) * sxx - sx * sx) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(CAST(n_days AS HUGEINT) * sxx - sx * sx) % 4294967296 AS DOUBLE))) * ((CASE WHEN (CAST(n_days AS HUGEINT) * see - se * se) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(CAST(n_days AS HUGEINT) * see - se * se) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(CAST(n_days AS HUGEINT) * see - se * se) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(CAST(n_days AS HUGEINT) * see - se * se) % 4294967296 AS DOUBLE)))) END AS r
  FROM g)
SELECT n_days, r AS corr_x_esq,
       CAST(n_days AS DOUBLE) * r * r AS bp_lm_stat,
       CAST(n_days AS DOUBLE) * r * r > 3.841458820694124
         AS heteroscedastic
FROM z
"""

# R109: Durbin-Watson on the same residual stream (cent units).
ORACLE["trend_autocorrelation_dw"] = """
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS day_num,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders GROUP BY 1),
span AS (SELECT MIN(day_num) AS d0, MAX(day_num) AS d1 FROM daily),
spine AS (SELECT UNNEST(range(d0, d1 + 1)) AS day_num FROM span),
series AS (
  SELECT s.day_num, COALESCE(d.rev, 0) AS rev
  FROM spine s LEFT JOIN daily d USING (day_num)),
s2 AS (
  SELECT CAST(series.day_num - span.d0 AS BIGINT) AS x, rev
  FROM series, span),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx,
         SUM(CAST(rev AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * rev) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx
  FROM s2),
fit AS (
  SELECT n,
         CASE WHEN ((CASE WHEN (CAST(n AS HUGEINT) * sxx - sx * sx) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(CAST(n AS HUGEINT) * sxx - sx * sx) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(CAST(n AS HUGEINT) * sxx - sx * sx) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(CAST(n AS HUGEINT) * sxx - sx * sx) % 4294967296 AS DOUBLE))) != 0 THEN ((CASE WHEN (CAST(n AS HUGEINT) * sxy - sx * sy) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(CAST(n AS HUGEINT) * sxy - sx * sy) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(CAST(n AS HUGEINT) * sxy - sx * sy) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(CAST(n AS HUGEINT) * sxy - sx * sy) % 4294967296 AS DOUBLE))) / ((CASE WHEN (CAST(n AS HUGEINT) * sxx - sx * sx) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(CAST(n AS HUGEINT) * sxx - sx * sx) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(CAST(n AS HUGEINT) * sxx - sx * sx) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(CAST(n AS HUGEINT) * sxx - sx * sx) % 4294967296 AS DOUBLE))) END AS b,
         (((CASE WHEN (sy) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(sy) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(sy) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(sy) % 4294967296 AS DOUBLE))) - (CASE WHEN ((CASE WHEN (CAST(n AS HUGEINT) * sxx - sx * sx) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(CAST(n AS HUGEINT) * sxx - sx * sx) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(CAST(n AS HUGEINT) * sxx - sx * sx) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(CAST(n AS HUGEINT) * sxx - sx * sx) % 4294967296 AS DOUBLE))) != 0 THEN ((CASE WHEN (CAST(n AS HUGEINT) * sxy - sx * sy) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(CAST(n AS HUGEINT) * sxy - sx * sy) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(CAST(n AS HUGEINT) * sxy - sx * sy) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(CAST(n AS HUGEINT) * sxy - sx * sy) % 4294967296 AS DOUBLE))) / ((CASE WHEN (CAST(n AS HUGEINT) * sxx - sx * sx) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(CAST(n AS HUGEINT) * sxx - sx * sx) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(CAST(n AS HUGEINT) * sxx - sx * sx) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(CAST(n AS HUGEINT) * sxx - sx * sx) % 4294967296 AS DOUBLE))) END)
            * ((CASE WHEN (sx) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(sx) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(sx) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(sx) % 4294967296 AS DOUBLE)))) / CAST(n AS DOUBLE) AS a
  FROM m),
sf AS (SELECT s2.x, s2.rev, fit.a, fit.b FROM s2, fit),
t AS (
  SELECT x,
         (CAST(rev AS DOUBLE) - (a + b * CAST(x AS DOUBLE))) * 0.00001
           AS e,
         LAG((CAST(rev AS DOUBLE) - (a + b * CAST(x AS DOUBLE))) * 0.00001)
           OVER (ORDER BY x) AS ep
  FROM sf),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         SUM(CASE WHEN ep IS NOT NULL THEN
               CAST(FLOOR((e - ep) * (e - ep) * 1000.0) AS HUGEINT) END)
           AS snum,
         SUM(CAST(FLOOR(e * e * 1000.0) AS HUGEINT)) AS sden
  FROM t)
SELECT n_days,
       CASE WHEN ((CASE WHEN (sden) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(sden) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(sden) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(sden) % 4294967296 AS DOUBLE))) != 0 THEN ((CASE WHEN (snum) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(snum) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(snum) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(snum) % 4294967296 AS DOUBLE))) / ((CASE WHEN (sden) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(sden) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(sden) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(sden) % 4294967296 AS DOUBLE))) END
         AS durbin_watson,
       1.0 - (CASE WHEN ((CASE WHEN (sden) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(sden) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(sden) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(sden) % 4294967296 AS DOUBLE))) != 0 THEN ((CASE WHEN (snum) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(snum) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(snum) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(snum) % 4294967296 AS DOUBLE))) / ((CASE WHEN (sden) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(sden) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(sden) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(sden) % 4294967296 AS DOUBLE))) END)
         / 2.0 AS rho_estimate,
       (CASE WHEN ((CASE WHEN (sden) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(sden) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(sden) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(sden) % 4294967296 AS DOUBLE))) != 0 THEN ((CASE WHEN (snum) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(snum) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(snum) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(snum) % 4294967296 AS DOUBLE))) / ((CASE WHEN (sden) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(sden) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(sden) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(sden) % 4294967296 AS DOUBLE))) END) < 1.5
         AS positive_autocorrelation
FROM g
"""

# L86: dedup savings -- the L1 hash rule rolled up per source.
ORACLE["dedup_savings_by_source"] = f"""
WITH fp AS (
  SELECT doc_id, source,
         CAST(length(text) AS BIGINT) AS n_bytes,
         md5({_NORM_TEXT}) AS h
  FROM documents),
marked AS (
  SELECT source, n_bytes,
         CASE WHEN doc_id != MIN(doc_id) OVER (PARTITION BY h)
              THEN 1 ELSE 0 END AS removed
  FROM fp),
g AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(removed) AS BIGINT) AS n_removed,
         CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
         CAST(SUM(removed * n_bytes) AS BIGINT) AS bytes_removed
  FROM marked GROUP BY source)
SELECT source, n_docs, n_removed, total_bytes, bytes_removed,
       CAST((1000000 * n_removed) // n_docs AS BIGINT) AS removed_ppm,
       CAST((1000000 * bytes_removed) // total_bytes AS BIGINT)
         AS bytes_removed_ppm
FROM g ORDER BY source
"""


# R110: per-segment Gini -- segment-leading global rank re-based by
# broadcast per-segment offsets; exact-sum closed form.
ORACLE["segment_spend_gini"] = """
WITH spend AS (
  SELECT c.c_mktsegment AS segment, o.o_custkey,
         CAST(SUM(CAST(FLOOR(o.o_totalprice * 100.0) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2),
within AS (
  SELECT segment, cents,
         CAST(ROW_NUMBER() OVER (PARTITION BY segment
                ORDER BY cents, o_custkey) AS BIGINT) AS r
  FROM spend),
g AS (
  SELECT segment,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(cents) AS BIGINT) AS t,
         SUM(CAST(r AS HUGEINT) * cents) AS s_rank
  FROM within GROUP BY segment)
SELECT segment, n_customers,
       CAST(t AS DOUBLE) / 100.0 AS total_spend,
       CASE WHEN CAST(n_customers AS DOUBLE) * CAST(t AS DOUBLE) != 0 THEN
         ((CASE WHEN (2 * s_rank - CAST(n_customers + 1 AS HUGEINT) * t) < 0 THEN -1.0 ELSE 1.0 END) * ((CAST(ABS(2 * s_rank - CAST(n_customers + 1 AS HUGEINT) * t) // 18446744073709551616 AS DOUBLE) * 18446744073709551616.0 + CAST((ABS(2 * s_rank - CAST(n_customers + 1 AS HUGEINT) * t) % 18446744073709551616) // 4294967296 AS DOUBLE) * 4294967296.0) + CAST(ABS(2 * s_rank - CAST(n_customers + 1 AS HUGEINT) * t) % 4294967296 AS DOUBLE)))
           / (CAST(n_customers AS DOUBLE) * CAST(t AS DOUBLE)) END AS gini
FROM g ORDER BY segment
"""

# P102: daily error budget -- P75's Wilson chain on the day grain.
ORACLE["daily_error_budget"] = """
WITH g AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_errors
  FROM events GROUP BY 1),
w AS (
  SELECT day_num, n_events, n_errors,
         CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE) AS p,
         CAST(n_events AS DOUBLE) AS n
  FROM g)
SELECT day_num, n_events, n_errors,
       p AS error_rate,
       (p + (CAST(1.959963984540054 AS DOUBLE) * CAST(1.959963984540054 AS DOUBLE)) / (2.0 * n))
         / (1.0 + (CAST(1.959963984540054 AS DOUBLE) * CAST(1.959963984540054 AS DOUBLE)) / n)
       - CAST(1.959963984540054 AS DOUBLE)
         * sqrt(p * (1.0 - p) / n
                + (CAST(1.959963984540054 AS DOUBLE) * CAST(1.959963984540054 AS DOUBLE)) / (4.0 * n * n))
         / (1.0 + (CAST(1.959963984540054 AS DOUBLE) * CAST(1.959963984540054 AS DOUBLE)) / n)
         AS wilson_lower,
       (p + (CAST(1.959963984540054 AS DOUBLE) * CAST(1.959963984540054 AS DOUBLE)) / (2.0 * n))
         / (1.0 + (CAST(1.959963984540054 AS DOUBLE) * CAST(1.959963984540054 AS DOUBLE)) / n)
       + CAST(1.959963984540054 AS DOUBLE)
         * sqrt(p * (1.0 - p) / n
                + (CAST(1.959963984540054 AS DOUBLE) * CAST(1.959963984540054 AS DOUBLE)) / (4.0 * n * n))
         / (1.0 + (CAST(1.959963984540054 AS DOUBLE) * CAST(1.959963984540054 AS DOUBLE)) / n)
         AS wilson_upper,
       (p + (CAST(1.959963984540054 AS DOUBLE) * CAST(1.959963984540054 AS DOUBLE)) / (2.0 * n))
         / (1.0 + (CAST(1.959963984540054 AS DOUBLE) * CAST(1.959963984540054 AS DOUBLE)) / n)
       - CAST(1.959963984540054 AS DOUBLE)
         * sqrt(p * (1.0 - p) / n
                + (CAST(1.959963984540054 AS DOUBLE) * CAST(1.959963984540054 AS DOUBLE)) / (4.0 * n * n))
         / (1.0 + (CAST(1.959963984540054 AS DOUBLE) * CAST(1.959963984540054 AS DOUBLE)) / n)
         > 0.05 AS budget_burned
FROM w ORDER BY day_num
"""

# L87: nprobe sweep -- three literal-quantizer rankings vs the
# brute-force ground truth, exact ppm recalls.
ORACLE["ivf_nprobe_sweep"] = """
WITH exact AS (
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec FROM embeddings),
s AS (
  SELECT q_id, neighbor_id, (0.0 + CAST(q_vec[1] AS DOUBLE)*CAST(c_vec[1] AS DOUBLE) + CAST(q_vec[2] AS DOUBLE)*CAST(c_vec[2] AS DOUBLE) + CAST(q_vec[3] AS DOUBLE)*CAST(c_vec[3] AS DOUBLE) + CAST(q_vec[4] AS DOUBLE)*CAST(c_vec[4] AS DOUBLE) + CAST(q_vec[5] AS DOUBLE)*CAST(c_vec[5] AS DOUBLE) + CAST(q_vec[6] AS DOUBLE)*CAST(c_vec[6] AS DOUBLE) + CAST(q_vec[7] AS DOUBLE)*CAST(c_vec[7] AS DOUBLE) + CAST(q_vec[8] AS DOUBLE)*CAST(c_vec[8] AS DOUBLE) + CAST(q_vec[9] AS DOUBLE)*CAST(c_vec[9] AS DOUBLE) + CAST(q_vec[10] AS DOUBLE)*CAST(c_vec[10] AS DOUBLE) + CAST(q_vec[11] AS DOUBLE)*CAST(c_vec[11] AS DOUBLE) + CAST(q_vec[12] AS DOUBLE)*CAST(c_vec[12] AS DOUBLE) + CAST(q_vec[13] AS DOUBLE)*CAST(c_vec[13] AS DOUBLE) + CAST(q_vec[14] AS DOUBLE)*CAST(c_vec[14] AS DOUBLE) + CAST(q_vec[15] AS DOUBLE)*CAST(c_vec[15] AS DOUBLE) + CAST(q_vec[16] AS DOUBLE)*CAST(c_vec[16] AS DOUBLE) + CAST(q_vec[17] AS DOUBLE)*CAST(c_vec[17] AS DOUBLE) + CAST(q_vec[18] AS DOUBLE)*CAST(c_vec[18] AS DOUBLE) + CAST(q_vec[19] AS DOUBLE)*CAST(c_vec[19] AS DOUBLE) + CAST(q_vec[20] AS DOUBLE)*CAST(c_vec[20] AS DOUBLE) + CAST(q_vec[21] AS DOUBLE)*CAST(c_vec[21] AS DOUBLE) + CAST(q_vec[22] AS DOUBLE)*CAST(c_vec[22] AS DOUBLE) + CAST(q_vec[23] AS DOUBLE)*CAST(c_vec[23] AS DOUBLE) + CAST(q_vec[24] AS DOUBLE)*CAST(c_vec[24] AS DOUBLE) + CAST(q_vec[25] AS DOUBLE)*CAST(c_vec[25] AS DOUBLE) + CAST(q_vec[26] AS DOUBLE)*CAST(c_vec[26] AS DOUBLE) + CAST(q_vec[27] AS DOUBLE)*CAST(c_vec[27] AS DOUBLE) + CAST(q_vec[28] AS DOUBLE)*CAST(c_vec[28] AS DOUBLE) + CAST(q_vec[29] AS DOUBLE)*CAST(c_vec[29] AS DOUBLE) + CAST(q_vec[30] AS DOUBLE)*CAST(c_vec[30] AS DOUBLE) + CAST(q_vec[31] AS DOUBLE)*CAST(c_vec[31] AS DOUBLE) + CAST(q_vec[32] AS DOUBLE)*CAST(c_vec[32] AS DOUBLE) + CAST(q_vec[33] AS DOUBLE)*CAST(c_vec[33] AS DOUBLE) + CAST(q_vec[34] AS DOUBLE)*CAST(c_vec[34] AS DOUBLE) + CAST(q_vec[35] AS DOUBLE)*CAST(c_vec[35] AS DOUBLE) + CAST(q_vec[36] AS DOUBLE)*CAST(c_vec[36] AS DOUBLE) + CAST(q_vec[37] AS DOUBLE)*CAST(c_vec[37] AS DOUBLE) + CAST(q_vec[38] AS DOUBLE)*CAST(c_vec[38] AS DOUBLE) + CAST(q_vec[39] AS DOUBLE)*CAST(c_vec[39] AS DOUBLE) + CAST(q_vec[40] AS DOUBLE)*CAST(c_vec[40] AS DOUBLE) + CAST(q_vec[41] AS DOUBLE)*CAST(c_vec[41] AS DOUBLE) + CAST(q_vec[42] AS DOUBLE)*CAST(c_vec[42] AS DOUBLE) + CAST(q_vec[43] AS DOUBLE)*CAST(c_vec[43] AS DOUBLE) + CAST(q_vec[44] AS DOUBLE)*CAST(c_vec[44] AS DOUBLE) + CAST(q_vec[45] AS DOUBLE)*CAST(c_vec[45] AS DOUBLE) + CAST(q_vec[46] AS DOUBLE)*CAST(c_vec[46] AS DOUBLE) + CAST(q_vec[47] AS DOUBLE)*CAST(c_vec[47] AS DOUBLE) + CAST(q_vec[48] AS DOUBLE)*CAST(c_vec[48] AS DOUBLE) + CAST(q_vec[49] AS DOUBLE)*CAST(c_vec[49] AS DOUBLE) + CAST(q_vec[50] AS DOUBLE)*CAST(c_vec[50] AS DOUBLE) + CAST(q_vec[51] AS DOUBLE)*CAST(c_vec[51] AS DOUBLE) + CAST(q_vec[52] AS DOUBLE)*CAST(c_vec[52] AS DOUBLE) + CAST(q_vec[53] AS DOUBLE)*CAST(c_vec[53] AS DOUBLE) + CAST(q_vec[54] AS DOUBLE)*CAST(c_vec[54] AS DOUBLE) + CAST(q_vec[55] AS DOUBLE)*CAST(c_vec[55] AS DOUBLE) + CAST(q_vec[56] AS DOUBLE)*CAST(c_vec[56] AS DOUBLE) + CAST(q_vec[57] AS DOUBLE)*CAST(c_vec[57] AS DOUBLE) + CAST(q_vec[58] AS DOUBLE)*CAST(c_vec[58] AS DOUBLE) + CAST(q_vec[59] AS DOUBLE)*CAST(c_vec[59] AS DOUBLE) + CAST(q_vec[60] AS DOUBLE)*CAST(c_vec[60] AS DOUBLE) + CAST(q_vec[61] AS DOUBLE)*CAST(c_vec[61] AS DOUBLE) + CAST(q_vec[62] AS DOUBLE)*CAST(c_vec[62] AS DOUBLE) + CAST(q_vec[63] AS DOUBLE)*CAST(c_vec[63] AS DOUBLE) + CAST(q_vec[64] AS DOUBLE)*CAST(c_vec[64] AS DOUBLE)) / (sqrt((0.0 + CAST(q_vec[1] AS DOUBLE)*CAST(q_vec[1] AS DOUBLE) + CAST(q_vec[2] AS DOUBLE)*CAST(q_vec[2] AS DOUBLE) + CAST(q_vec[3] AS DOUBLE)*CAST(q_vec[3] AS DOUBLE) + CAST(q_vec[4] AS DOUBLE)*CAST(q_vec[4] AS DOUBLE) + CAST(q_vec[5] AS DOUBLE)*CAST(q_vec[5] AS DOUBLE) + CAST(q_vec[6] AS DOUBLE)*CAST(q_vec[6] AS DOUBLE) + CAST(q_vec[7] AS DOUBLE)*CAST(q_vec[7] AS DOUBLE) + CAST(q_vec[8] AS DOUBLE)*CAST(q_vec[8] AS DOUBLE) + CAST(q_vec[9] AS DOUBLE)*CAST(q_vec[9] AS DOUBLE) + CAST(q_vec[10] AS DOUBLE)*CAST(q_vec[10] AS DOUBLE) + CAST(q_vec[11] AS DOUBLE)*CAST(q_vec[11] AS DOUBLE) + CAST(q_vec[12] AS DOUBLE)*CAST(q_vec[12] AS DOUBLE) + CAST(q_vec[13] AS DOUBLE)*CAST(q_vec[13] AS DOUBLE) + CAST(q_vec[14] AS DOUBLE)*CAST(q_vec[14] AS DOUBLE) + CAST(q_vec[15] AS DOUBLE)*CAST(q_vec[15] AS DOUBLE) + CAST(q_vec[16] AS DOUBLE)*CAST(q_vec[16] AS DOUBLE) + CAST(q_vec[17] AS DOUBLE)*CAST(q_vec[17] AS DOUBLE) + CAST(q_vec[18] AS DOUBLE)*CAST(q_vec[18] AS DOUBLE) + CAST(q_vec[19] AS DOUBLE)*CAST(q_vec[19] AS DOUBLE) + CAST(q_vec[20] AS DOUBLE)*CAST(q_vec[20] AS DOUBLE) + CAST(q_vec[21] AS DOUBLE)*CAST(q_vec[21] AS DOUBLE) + CAST(q_vec[22] AS DOUBLE)*CAST(q_vec[22] AS DOUBLE) + CAST(q_vec[23] AS DOUBLE)*CAST(q_vec[23] AS DOUBLE) + CAST(q_vec[24] AS DOUBLE)*CAST(q_vec[24] AS DOUBLE) + CAST(q_vec[25] AS DOUBLE)*CAST(q_vec[25] AS DOUBLE) + CAST(q_vec[26] AS DOUBLE)*CAST(q_vec[26] AS DOUBLE) + CAST(q_vec[27] AS DOUBLE)*CAST(q_vec[27] AS DOUBLE) + CAST(q_vec[28] AS DOUBLE)*CAST(q_vec[28] AS DOUBLE) + CAST(q_vec[29] AS DOUBLE)*CAST(q_vec[29] AS DOUBLE) + CAST(q_vec[30] AS DOUBLE)*CAST(q_vec[30] AS DOUBLE) + CAST(q_vec[31] AS DOUBLE)*CAST(q_vec[31] AS DOUBLE) + CAST(q_vec[32] AS DOUBLE)*CAST(q_vec[32] AS DOUBLE) + CAST(q_vec[33] AS DOUBLE)*CAST(q_vec[33] AS DOUBLE) + CAST(q_vec[34] AS DOUBLE)*CAST(q_vec[34] AS DOUBLE) + CAST(q_vec[35] AS DOUBLE)*CAST(q_vec[35] AS DOUBLE) + CAST(q_vec[36] AS DOUBLE)*CAST(q_vec[36] AS DOUBLE) + CAST(q_vec[37] AS DOUBLE)*CAST(q_vec[37] AS DOUBLE) + CAST(q_vec[38] AS DOUBLE)*CAST(q_vec[38] AS DOUBLE) + CAST(q_vec[39] AS DOUBLE)*CAST(q_vec[39] AS DOUBLE) + CAST(q_vec[40] AS DOUBLE)*CAST(q_vec[40] AS DOUBLE) + CAST(q_vec[41] AS DOUBLE)*CAST(q_vec[41] AS DOUBLE) + CAST(q_vec[42] AS DOUBLE)*CAST(q_vec[42] AS DOUBLE) + CAST(q_vec[43] AS DOUBLE)*CAST(q_vec[43] AS DOUBLE) + CAST(q_vec[44] AS DOUBLE)*CAST(q_vec[44] AS DOUBLE) + CAST(q_vec[45] AS DOUBLE)*CAST(q_vec[45] AS DOUBLE) + CAST(q_vec[46] AS DOUBLE)*CAST(q_vec[46] AS DOUBLE) + CAST(q_vec[47] AS DOUBLE)*CAST(q_vec[47] AS DOUBLE) + CAST(q_vec[48] AS DOUBLE)*CAST(q_vec[48] AS DOUBLE) + CAST(q_vec[49] AS DOUBLE)*CAST(q_vec[49] AS DOUBLE) + CAST(q_vec[50] AS DOUBLE)*CAST(q_vec[50] AS DOUBLE) + CAST(q_vec[51] AS DOUBLE)*CAST(q_vec[51] AS DOUBLE) + CAST(q_vec[52] AS DOUBLE)*CAST(q_vec[52] AS DOUBLE) + CAST(q_vec[53] AS DOUBLE)*CAST(q_vec[53] AS DOUBLE) + CAST(q_vec[54] AS DOUBLE)*CAST(q_vec[54] AS DOUBLE) + CAST(q_vec[55] AS DOUBLE)*CAST(q_vec[55] AS DOUBLE) + CAST(q_vec[56] AS DOUBLE)*CAST(q_vec[56] AS DOUBLE) + CAST(q_vec[57] AS DOUBLE)*CAST(q_vec[57] AS DOUBLE) + CAST(q_vec[58] AS DOUBLE)*CAST(q_vec[58] AS DOUBLE) + CAST(q_vec[59] AS DOUBLE)*CAST(q_vec[59] AS DOUBLE) + CAST(q_vec[60] AS DOUBLE)*CAST(q_vec[60] AS DOUBLE) + CAST(q_vec[61] AS DOUBLE)*CAST(q_vec[61] AS DOUBLE) + CAST(q_vec[62] AS DOUBLE)*CAST(q_vec[62] AS DOUBLE) + CAST(q_vec[63] AS DOUBLE)*CAST(q_vec[63] AS DOUBLE) + CAST(q_vec[64] AS DOUBLE)*CAST(q_vec[64] AS DOUBLE))) * sqrt((0.0 + CAST(c_vec[1] AS DOUBLE)*CAST(c_vec[1] AS DOUBLE) + CAST(c_vec[2] AS DOUBLE)*CAST(c_vec[2] AS DOUBLE) + CAST(c_vec[3] AS DOUBLE)*CAST(c_vec[3] AS DOUBLE) + CAST(c_vec[4] AS DOUBLE)*CAST(c_vec[4] AS DOUBLE) + CAST(c_vec[5] AS DOUBLE)*CAST(c_vec[5] AS DOUBLE) + CAST(c_vec[6] AS DOUBLE)*CAST(c_vec[6] AS DOUBLE) + CAST(c_vec[7] AS DOUBLE)*CAST(c_vec[7] AS DOUBLE) + CAST(c_vec[8] AS DOUBLE)*CAST(c_vec[8] AS DOUBLE) + CAST(c_vec[9] AS DOUBLE)*CAST(c_vec[9] AS DOUBLE) + CAST(c_vec[10] AS DOUBLE)*CAST(c_vec[10] AS DOUBLE) + CAST(c_vec[11] AS DOUBLE)*CAST(c_vec[11] AS DOUBLE) + CAST(c_vec[12] AS DOUBLE)*CAST(c_vec[12] AS DOUBLE) + CAST(c_vec[13] AS DOUBLE)*CAST(c_vec[13] AS DOUBLE) + CAST(c_vec[14] AS DOUBLE)*CAST(c_vec[14] AS DOUBLE) + CAST(c_vec[15] AS DOUBLE)*CAST(c_vec[15] AS DOUBLE) + CAST(c_vec[16] AS DOUBLE)*CAST(c_vec[16] AS DOUBLE) + CAST(c_vec[17] AS DOUBLE)*CAST(c_vec[17] AS DOUBLE) + CAST(c_vec[18] AS DOUBLE)*CAST(c_vec[18] AS DOUBLE) + CAST(c_vec[19] AS DOUBLE)*CAST(c_vec[19] AS DOUBLE) + CAST(c_vec[20] AS DOUBLE)*CAST(c_vec[20] AS DOUBLE) + CAST(c_vec[21] AS DOUBLE)*CAST(c_vec[21] AS DOUBLE) + CAST(c_vec[22] AS DOUBLE)*CAST(c_vec[22] AS DOUBLE) + CAST(c_vec[23] AS DOUBLE)*CAST(c_vec[23] AS DOUBLE) + CAST(c_vec[24] AS DOUBLE)*CAST(c_vec[24] AS DOUBLE) + CAST(c_vec[25] AS DOUBLE)*CAST(c_vec[25] AS DOUBLE) + CAST(c_vec[26] AS DOUBLE)*CAST(c_vec[26] AS DOUBLE) + CAST(c_vec[27] AS DOUBLE)*CAST(c_vec[27] AS DOUBLE) + CAST(c_vec[28] AS DOUBLE)*CAST(c_vec[28] AS DOUBLE) + CAST(c_vec[29] AS DOUBLE)*CAST(c_vec[29] AS DOUBLE) + CAST(c_vec[30] AS DOUBLE)*CAST(c_vec[30] AS DOUBLE) + CAST(c_vec[31] AS DOUBLE)*CAST(c_vec[31] AS DOUBLE) + CAST(c_vec[32] AS DOUBLE)*CAST(c_vec[32] AS DOUBLE) + CAST(c_vec[33] AS DOUBLE)*CAST(c_vec[33] AS DOUBLE) + CAST(c_vec[34] AS DOUBLE)*CAST(c_vec[34] AS DOUBLE) + CAST(c_vec[35] AS DOUBLE)*CAST(c_vec[35] AS DOUBLE) + CAST(c_vec[36] AS DOUBLE)*CAST(c_vec[36] AS DOUBLE) + CAST(c_vec[37] AS DOUBLE)*CAST(c_vec[37] AS DOUBLE) + CAST(c_vec[38] AS DOUBLE)*CAST(c_vec[38] AS DOUBLE) + CAST(c_vec[39] AS DOUBLE)*CAST(c_vec[39] AS DOUBLE) + CAST(c_vec[40] AS DOUBLE)*CAST(c_vec[40] AS DOUBLE) + CAST(c_vec[41] AS DOUBLE)*CAST(c_vec[41] AS DOUBLE) + CAST(c_vec[42] AS DOUBLE)*CAST(c_vec[42] AS DOUBLE) + CAST(c_vec[43] AS DOUBLE)*CAST(c_vec[43] AS DOUBLE) + CAST(c_vec[44] AS DOUBLE)*CAST(c_vec[44] AS DOUBLE) + CAST(c_vec[45] AS DOUBLE)*CAST(c_vec[45] AS DOUBLE) + CAST(c_vec[46] AS DOUBLE)*CAST(c_vec[46] AS DOUBLE) + CAST(c_vec[47] AS DOUBLE)*CAST(c_vec[47] AS DOUBLE) + CAST(c_vec[48] AS DOUBLE)*CAST(c_vec[48] AS DOUBLE) + CAST(c_vec[49] AS DOUBLE)*CAST(c_vec[49] AS DOUBLE) + CAST(c_vec[50] AS DOUBLE)*CAST(c_vec[50] AS DOUBLE) + CAST(c_vec[51] AS DOUBLE)*CAST(c_vec[51] AS DOUBLE) + CAST(c_vec[52] AS DOUBLE)*CAST(c_vec[52] AS DOUBLE) + CAST(c_vec[53] AS DOUBLE)*CAST(c_vec[53] AS DOUBLE) + CAST(c_vec[54] AS DOUBLE)*CAST(c_vec[54] AS DOUBLE) + CAST(c_vec[55] AS DOUBLE)*CAST(c_vec[55] AS DOUBLE) + CAST(c_vec[56] AS DOUBLE)*CAST(c_vec[56] AS DOUBLE) + CAST(c_vec[57] AS DOUBLE)*CAST(c_vec[57] AS DOUBLE) + CAST(c_vec[58] AS DOUBLE)*CAST(c_vec[58] AS DOUBLE) + CAST(c_vec[59] AS DOUBLE)*CAST(c_vec[59] AS DOUBLE) + CAST(c_vec[60] AS DOUBLE)*CAST(c_vec[60] AS DOUBLE) + CAST(c_vec[61] AS DOUBLE)*CAST(c_vec[61] AS DOUBLE) + CAST(c_vec[62] AS DOUBLE)*CAST(c_vec[62] AS DOUBLE) + CAST(c_vec[63] AS DOUBLE)*CAST(c_vec[63] AS DOUBLE) + CAST(c_vec[64] AS DOUBLE)*CAST(c_vec[64] AS DOUBLE)))) AS cos_sim
  FROM q, c WHERE q_id <> neighbor_id),
r AS (
  SELECT q_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank
  FROM s)
SELECT q_id, neighbor_id, cos_sim, "rank" FROM r WHERE "rank" <= 5
)
SELECT * FROM (
SELECT CAST(1 AS BIGINT) AS nprobe,
       ne.n_exact,
       CAST(COALESCE(nh.n_hits, 0) AS BIGINT) AS n_hits,
       CAST((1000000 * COALESCE(nh.n_hits, 0)) // ne.n_exact AS BIGINT)
         AS recall_ppm,
       CAST(CAST((1000000 * COALESCE(nh.n_hits, 0)) // ne.n_exact AS BIGINT)
            AS DOUBLE) / 1000000.0 AS mean_recall_at_5
FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact) ne,
     (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM exact e SEMI JOIN (
        
WITH base AS (
  SELECT vec_id, embedding,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (2.1699867207380645) + CAST(embedding[2] AS DOUBLE) * (-1.1079786469680795) + CAST(embedding[3] AS DOUBLE) * (0.32589852902934197) + CAST(embedding[4] AS DOUBLE) * (-0.2613181260001577) + CAST(embedding[5] AS DOUBLE) * (-0.8792737317600035) + CAST(embedding[6] AS DOUBLE) * (-0.5738432527438687) + CAST(embedding[7] AS DOUBLE) * (-0.5189988677338094) + CAST(embedding[8] AS DOUBLE) * (-0.09930180207886077) + CAST(embedding[9] AS DOUBLE) * (0.3865300173736704) + CAST(embedding[10] AS DOUBLE) * (1.0132288958817026) + CAST(embedding[11] AS DOUBLE) * (0.1993937448867829) + CAST(embedding[12] AS DOUBLE) * (1.083652184372391) + CAST(embedding[13] AS DOUBLE) * (0.41838593160240717) + CAST(embedding[14] AS DOUBLE) * (0.06563800441896446) + CAST(embedding[15] AS DOUBLE) * (-0.2600355441139246) + CAST(embedding[16] AS DOUBLE) * (-1.0129882532193426) + CAST(embedding[17] AS DOUBLE) * (-1.6227835267832889) + CAST(embedding[18] AS DOUBLE) * (-0.12908990923609442) + CAST(embedding[19] AS DOUBLE) * (-0.21779878046596632) + CAST(embedding[20] AS DOUBLE) * (0.26667982053102357) + CAST(embedding[21] AS DOUBLE) * (0.27541138031975404) + CAST(embedding[22] AS DOUBLE) * (-1.3050186513030222) + CAST(embedding[23] AS DOUBLE) * (-0.7617561033214943) + CAST(embedding[24] AS DOUBLE) * (-1.1662421256928086) + CAST(embedding[25] AS DOUBLE) * (0.9333744438300192) + CAST(embedding[26] AS DOUBLE) * (-0.17358590709943209) + CAST(embedding[27] AS DOUBLE) * (0.058939725195320716) + CAST(embedding[28] AS DOUBLE) * (-0.9572998593896521) + CAST(embedding[29] AS DOUBLE) * (-1.3218914690449026) + CAST(embedding[30] AS DOUBLE) * (-0.6429267245125667) + CAST(embedding[31] AS DOUBLE) * (-0.16666669030021375) + CAST(embedding[32] AS DOUBLE) * (0.38922269236616275) + CAST(embedding[33] AS DOUBLE) * (-1.5698649077430762) + CAST(embedding[34] AS DOUBLE) * (0.2580906391925216) + CAST(embedding[35] AS DOUBLE) * (-0.9174271914240806) + CAST(embedding[36] AS DOUBLE) * (-0.5871590042364816) + CAST(embedding[37] AS DOUBLE) * (-0.3967328554866439) + CAST(embedding[38] AS DOUBLE) * (-0.4944293277464607) + CAST(embedding[39] AS DOUBLE) * (0.3836936908556341) + CAST(embedding[40] AS DOUBLE) * (0.7963452140503653) + CAST(embedding[41] AS DOUBLE) * (0.2653578014361696) + CAST(embedding[42] AS DOUBLE) * (-0.6040877453680568) + CAST(embedding[43] AS DOUBLE) * (0.34311174030663366) + CAST(embedding[44] AS DOUBLE) * (0.2998265924250336) + CAST(embedding[45] AS DOUBLE) * (0.7790426349105024) + CAST(embedding[46] AS DOUBLE) * (0.19446738261662008) + CAST(embedding[47] AS DOUBLE) * (-1.6632085503210128) + CAST(embedding[48] AS DOUBLE) * (-0.8189728069149812) + CAST(embedding[49] AS DOUBLE) * (-0.46707926266240857) + CAST(embedding[50] AS DOUBLE) * (0.8395293649822554) + CAST(embedding[51] AS DOUBLE) * (-0.20417990201901623) + CAST(embedding[52] AS DOUBLE) * (0.8278803215597093) + CAST(embedding[53] AS DOUBLE) * (0.2176122939560562) + CAST(embedding[54] AS DOUBLE) * (-1.2430574445381901) + CAST(embedding[55] AS DOUBLE) * (-0.025168925059448097) + CAST(embedding[56] AS DOUBLE) * (0.47538289273474205) + CAST(embedding[57] AS DOUBLE) * (0.3304218683244367) + CAST(embedding[58] AS DOUBLE) * (-1.5319811285805112) + CAST(embedding[59] AS DOUBLE) * (0.34938270914619535) + CAST(embedding[60] AS DOUBLE) * (-0.6493215352430751) + CAST(embedding[61] AS DOUBLE) * (-2.1497412615528795) + CAST(embedding[62] AS DOUBLE) * (-0.6315801328620507) + CAST(embedding[63] AS DOUBLE) * (-2.014360452151887) + CAST(embedding[64] AS DOUBLE) * (-1.3267366695720195)) AS d0,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (1.3493736079095395) + CAST(embedding[2] AS DOUBLE) * (2.3574281217314046) + CAST(embedding[3] AS DOUBLE) * (0.974146861617726) + CAST(embedding[4] AS DOUBLE) * (0.357087420914038) + CAST(embedding[5] AS DOUBLE) * (1.8016409257375818) + CAST(embedding[6] AS DOUBLE) * (0.26638405191451425) + CAST(embedding[7] AS DOUBLE) * (-1.0370842279937875) + CAST(embedding[8] AS DOUBLE) * (-2.4906909937084873) + CAST(embedding[9] AS DOUBLE) * (0.8254096438714261) + CAST(embedding[10] AS DOUBLE) * (-2.2943036014164484) + CAST(embedding[11] AS DOUBLE) * (-2.8931104935975456) + CAST(embedding[12] AS DOUBLE) * (-0.7156833317563337) + CAST(embedding[13] AS DOUBLE) * (-0.005708669074363964) + CAST(embedding[14] AS DOUBLE) * (-0.9217913295819) + CAST(embedding[15] AS DOUBLE) * (0.9602720655965147) + CAST(embedding[16] AS DOUBLE) * (-0.1558601247108059) + CAST(embedding[17] AS DOUBLE) * (0.1385213470528602) + CAST(embedding[18] AS DOUBLE) * (0.37233344158813425) + CAST(embedding[19] AS DOUBLE) * (-0.6466728025715587) + CAST(embedding[20] AS DOUBLE) * (0.14046778335765708) + CAST(embedding[21] AS DOUBLE) * (2.241058348597844) + CAST(embedding[22] AS DOUBLE) * (-0.9936560252826314) + CAST(embedding[23] AS DOUBLE) * (0.09924581890662353) + CAST(embedding[24] AS DOUBLE) * (0.45680624649786206) + CAST(embedding[25] AS DOUBLE) * (-0.5997515566709185) + CAST(embedding[26] AS DOUBLE) * (-0.11039093342551126) + CAST(embedding[27] AS DOUBLE) * (-1.7623232504526851) + CAST(embedding[28] AS DOUBLE) * (-0.4958115189101038) + CAST(embedding[29] AS DOUBLE) * (-0.0201379494688227) + CAST(embedding[30] AS DOUBLE) * (1.0464692871649537) + CAST(embedding[31] AS DOUBLE) * (0.8809726108343329) + CAST(embedding[32] AS DOUBLE) * (-0.6327352439223559) + CAST(embedding[33] AS DOUBLE) * (-1.1621814459462878) + CAST(embedding[34] AS DOUBLE) * (1.7625781817792587) + CAST(embedding[35] AS DOUBLE) * (0.8282498279041635) + CAST(embedding[36] AS DOUBLE) * (-1.9557748532393313) + CAST(embedding[37] AS DOUBLE) * (-0.3933080562650607) + CAST(embedding[38] AS DOUBLE) * (-0.9536681309415094) + CAST(embedding[39] AS DOUBLE) * (-0.6594392644762228) + CAST(embedding[40] AS DOUBLE) * (-1.7626492943072107) + CAST(embedding[41] AS DOUBLE) * (-0.472197460916041) + CAST(embedding[42] AS DOUBLE) * (-0.5672394944152519) + CAST(embedding[43] AS DOUBLE) * (-0.2879880583495375) + CAST(embedding[44] AS DOUBLE) * (0.9854077784688751) + CAST(embedding[45] AS DOUBLE) * (0.17319721429439905) + CAST(embedding[46] AS DOUBLE) * (-1.2644298905718279) + CAST(embedding[47] AS DOUBLE) * (-1.7804125913447617) + CAST(embedding[48] AS DOUBLE) * (-0.577718169360636) + CAST(embedding[49] AS DOUBLE) * (1.0971025606641962) + CAST(embedding[50] AS DOUBLE) * (0.8897058942385211) + CAST(embedding[51] AS DOUBLE) * (-0.6343255841530552) + CAST(embedding[52] AS DOUBLE) * (1.1120537078981618) + CAST(embedding[53] AS DOUBLE) * (0.38607355508082786) + CAST(embedding[54] AS DOUBLE) * (-0.6495553124107992) + CAST(embedding[55] AS DOUBLE) * (0.38593414967709216) + CAST(embedding[56] AS DOUBLE) * (-0.12134036219142272) + CAST(embedding[57] AS DOUBLE) * (-1.1557145875624628) + CAST(embedding[58] AS DOUBLE) * (-0.47464504737753843) + CAST(embedding[59] AS DOUBLE) * (0.12008435874037364) + CAST(embedding[60] AS DOUBLE) * (1.2772627323647865) + CAST(embedding[61] AS DOUBLE) * (-1.0743630492761616) + CAST(embedding[62] AS DOUBLE) * (0.19986415492529624) + CAST(embedding[63] AS DOUBLE) * (-0.017542016902101762) + CAST(embedding[64] AS DOUBLE) * (-0.08713110155989824)) AS d1,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (-1.2577899221671323) + CAST(embedding[2] AS DOUBLE) * (1.2238452093167131) + CAST(embedding[3] AS DOUBLE) * (1.263096024693588) + CAST(embedding[4] AS DOUBLE) * (1.5637409056484606) + CAST(embedding[5] AS DOUBLE) * (0.4346549890366623) + CAST(embedding[6] AS DOUBLE) * (1.4481024662776967) + CAST(embedding[7] AS DOUBLE) * (0.507100012249707) + CAST(embedding[8] AS DOUBLE) * (0.9675054979514186) + CAST(embedding[9] AS DOUBLE) * (-0.3651744157515609) + CAST(embedding[10] AS DOUBLE) * (0.19320234038107062) + CAST(embedding[11] AS DOUBLE) * (-0.3561747033097989) + CAST(embedding[12] AS DOUBLE) * (-1.0870443640097944) + CAST(embedding[13] AS DOUBLE) * (-0.465399551284373) + CAST(embedding[14] AS DOUBLE) * (-1.1544247120052649) + CAST(embedding[15] AS DOUBLE) * (-1.1476073231678856) + CAST(embedding[16] AS DOUBLE) * (-0.42027133190649063) + CAST(embedding[17] AS DOUBLE) * (-0.6330853856097824) + CAST(embedding[18] AS DOUBLE) * (2.0444062851033893) + CAST(embedding[19] AS DOUBLE) * (1.7516585550837993) + CAST(embedding[20] AS DOUBLE) * (1.056693813220963) + CAST(embedding[21] AS DOUBLE) * (0.7676403805488081) + CAST(embedding[22] AS DOUBLE) * (-0.8878444326095933) + CAST(embedding[23] AS DOUBLE) * (0.25208493059671166) + CAST(embedding[24] AS DOUBLE) * (-1.4745464839005809) + CAST(embedding[25] AS DOUBLE) * (-0.6559112954973413) + CAST(embedding[26] AS DOUBLE) * (-0.5092626329019135) + CAST(embedding[27] AS DOUBLE) * (-0.3929214550556583) + CAST(embedding[28] AS DOUBLE) * (0.8398049213708733) + CAST(embedding[29] AS DOUBLE) * (-0.8159739708198376) + CAST(embedding[30] AS DOUBLE) * (2.399401534052994) + CAST(embedding[31] AS DOUBLE) * (-0.537288680108295) + CAST(embedding[32] AS DOUBLE) * (0.8318037860239111) + CAST(embedding[33] AS DOUBLE) * (-1.6112314486636563) + CAST(embedding[34] AS DOUBLE) * (0.8915986994252159) + CAST(embedding[35] AS DOUBLE) * (-1.2579555057468832) + CAST(embedding[36] AS DOUBLE) * (0.17694713662863804) + CAST(embedding[37] AS DOUBLE) * (-0.027799675848140755) + CAST(embedding[38] AS DOUBLE) * (0.806772028799457) + CAST(embedding[39] AS DOUBLE) * (0.5931122307963466) + CAST(embedding[40] AS DOUBLE) * (0.3716502220952085) + CAST(embedding[41] AS DOUBLE) * (-0.17044108877256595) + CAST(embedding[42] AS DOUBLE) * (1.9482546830194398) + CAST(embedding[43] AS DOUBLE) * (-0.4836175932225871) + CAST(embedding[44] AS DOUBLE) * (-0.0075057864212346405) + CAST(embedding[45] AS DOUBLE) * (-0.49385748676794844) + CAST(embedding[46] AS DOUBLE) * (0.11783361787735049) + CAST(embedding[47] AS DOUBLE) * (-0.9887567934156685) + CAST(embedding[48] AS DOUBLE) * (-0.4354688770225977) + CAST(embedding[49] AS DOUBLE) * (0.48738439368472414) + CAST(embedding[50] AS DOUBLE) * (-0.602248233707375) + CAST(embedding[51] AS DOUBLE) * (0.4466700731791106) + CAST(embedding[52] AS DOUBLE) * (-0.6078380273189347) + CAST(embedding[53] AS DOUBLE) * (1.4097234509113148) + CAST(embedding[54] AS DOUBLE) * (-0.1546127976471008) + CAST(embedding[55] AS DOUBLE) * (1.749526258188258) + CAST(embedding[56] AS DOUBLE) * (0.4807392105214751) + CAST(embedding[57] AS DOUBLE) * (-0.15217871610095032) + CAST(embedding[58] AS DOUBLE) * (0.9361867677371898) + CAST(embedding[59] AS DOUBLE) * (1.1532396953425783) + CAST(embedding[60] AS DOUBLE) * (1.5176908046780375) + CAST(embedding[61] AS DOUBLE) * (1.3803800500086394) + CAST(embedding[62] AS DOUBLE) * (0.8805727241350567) + CAST(embedding[63] AS DOUBLE) * (-1.1960999758221535) + CAST(embedding[64] AS DOUBLE) * (0.9190929105729782)) AS d2,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (-0.10792485825603078) + CAST(embedding[2] AS DOUBLE) * (0.3890662859329336) + CAST(embedding[3] AS DOUBLE) * (1.25611361970282) + CAST(embedding[4] AS DOUBLE) * (-0.7410543634213287) + CAST(embedding[5] AS DOUBLE) * (1.3219520960862796) + CAST(embedding[6] AS DOUBLE) * (2.393301535353535) + CAST(embedding[7] AS DOUBLE) * (0.5400220323247202) + CAST(embedding[8] AS DOUBLE) * (-0.3341185904146626) + CAST(embedding[9] AS DOUBLE) * (1.3642857310773209) + CAST(embedding[10] AS DOUBLE) * (0.16451609607500065) + CAST(embedding[11] AS DOUBLE) * (1.040910589547841) + CAST(embedding[12] AS DOUBLE) * (1.2446772140820774) + CAST(embedding[13] AS DOUBLE) * (-1.541449720077563) + CAST(embedding[14] AS DOUBLE) * (0.30534870637785144) + CAST(embedding[15] AS DOUBLE) * (-1.5538648135614217) + CAST(embedding[16] AS DOUBLE) * (-0.7287070272880077) + CAST(embedding[17] AS DOUBLE) * (0.5912253194840534) + CAST(embedding[18] AS DOUBLE) * (-1.223766592640582) + CAST(embedding[19] AS DOUBLE) * (-0.7469985407047881) + CAST(embedding[20] AS DOUBLE) * (-0.48331609778728823) + CAST(embedding[21] AS DOUBLE) * (0.29323698553435634) + CAST(embedding[22] AS DOUBLE) * (0.32880305059786946) + CAST(embedding[23] AS DOUBLE) * (0.42292750142841234) + CAST(embedding[24] AS DOUBLE) * (-0.5316968847836061) + CAST(embedding[25] AS DOUBLE) * (-0.7815327894493503) + CAST(embedding[26] AS DOUBLE) * (0.3885821285897724) + CAST(embedding[27] AS DOUBLE) * (-0.9019256859772758) + CAST(embedding[28] AS DOUBLE) * (-0.8431287655483993) + CAST(embedding[29] AS DOUBLE) * (0.6772483102750041) + CAST(embedding[30] AS DOUBLE) * (-0.8287843545557869) + CAST(embedding[31] AS DOUBLE) * (-0.9384932157294542) + CAST(embedding[32] AS DOUBLE) * (1.1071798435579583) + CAST(embedding[33] AS DOUBLE) * (-0.07440455496353912) + CAST(embedding[34] AS DOUBLE) * (-2.2775948085229505) + CAST(embedding[35] AS DOUBLE) * (-0.79017412740223) + CAST(embedding[36] AS DOUBLE) * (1.930574431303024) + CAST(embedding[37] AS DOUBLE) * (2.8226402963339505) + CAST(embedding[38] AS DOUBLE) * (-0.3307794847808993) + CAST(embedding[39] AS DOUBLE) * (0.6730651408558647) + CAST(embedding[40] AS DOUBLE) * (0.7095176547927833) + CAST(embedding[41] AS DOUBLE) * (0.28316427614264444) + CAST(embedding[42] AS DOUBLE) * (-1.864358022953004) + CAST(embedding[43] AS DOUBLE) * (0.9718854661777622) + CAST(embedding[44] AS DOUBLE) * (0.24638743285914722) + CAST(embedding[45] AS DOUBLE) * (-0.27244905984874274) + CAST(embedding[46] AS DOUBLE) * (-1.66304355295086) + CAST(embedding[47] AS DOUBLE) * (-0.6709920247726548) + CAST(embedding[48] AS DOUBLE) * (-0.1503908533056657) + CAST(embedding[49] AS DOUBLE) * (-0.28949208451087605) + CAST(embedding[50] AS DOUBLE) * (0.19196836969485986) + CAST(embedding[51] AS DOUBLE) * (-0.4235170800033746) + CAST(embedding[52] AS DOUBLE) * (0.9672949728957527) + CAST(embedding[53] AS DOUBLE) * (0.590253985117911) + CAST(embedding[54] AS DOUBLE) * (-1.1964754181940807) + CAST(embedding[55] AS DOUBLE) * (-0.6452014455967686) + CAST(embedding[56] AS DOUBLE) * (0.38505006237926204) + CAST(embedding[57] AS DOUBLE) * (-0.5943814896782081) + CAST(embedding[58] AS DOUBLE) * (1.3669637123527583) + CAST(embedding[59] AS DOUBLE) * (-0.5807502167189974) + CAST(embedding[60] AS DOUBLE) * (0.20719471705297313) + CAST(embedding[61] AS DOUBLE) * (0.570329499551438) + CAST(embedding[62] AS DOUBLE) * (-1.1785388641264671) + CAST(embedding[63] AS DOUBLE) * (1.2141881064610243) + CAST(embedding[64] AS DOUBLE) * (-0.25129379946410557)) AS d3,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (-0.7560079060022217) + CAST(embedding[2] AS DOUBLE) * (-0.7378716810667721) + CAST(embedding[3] AS DOUBLE) * (-1.742103590024213) + CAST(embedding[4] AS DOUBLE) * (-1.4098247094809109) + CAST(embedding[5] AS DOUBLE) * (1.4606447943546157) + CAST(embedding[6] AS DOUBLE) * (-0.17250578728386445) + CAST(embedding[7] AS DOUBLE) * (-0.3257948499277712) + CAST(embedding[8] AS DOUBLE) * (0.15270946996446674) + CAST(embedding[9] AS DOUBLE) * (0.5350676819345033) + CAST(embedding[10] AS DOUBLE) * (-0.8408099477723523) + CAST(embedding[11] AS DOUBLE) * (-0.25358510438853565) + CAST(embedding[12] AS DOUBLE) * (0.23089693522171328) + CAST(embedding[13] AS DOUBLE) * (0.9723717677086743) + CAST(embedding[14] AS DOUBLE) * (0.21176691849489224) + CAST(embedding[15] AS DOUBLE) * (1.622072076161329) + CAST(embedding[16] AS DOUBLE) * (-0.259737305653496) + CAST(embedding[17] AS DOUBLE) * (-0.3803284367555525) + CAST(embedding[18] AS DOUBLE) * (-1.4364123113950473) + CAST(embedding[19] AS DOUBLE) * (-0.08705007687666258) + CAST(embedding[20] AS DOUBLE) * (0.6015317838054497) + CAST(embedding[21] AS DOUBLE) * (-0.29001595831040544) + CAST(embedding[22] AS DOUBLE) * (-0.2173328068914763) + CAST(embedding[23] AS DOUBLE) * (-1.0226848930297348) + CAST(embedding[24] AS DOUBLE) * (-0.631809466748631) + CAST(embedding[25] AS DOUBLE) * (-0.49060269685145164) + CAST(embedding[26] AS DOUBLE) * (-0.1342081390565126) + CAST(embedding[27] AS DOUBLE) * (1.0316457343628445) + CAST(embedding[28] AS DOUBLE) * (0.46658264248356673) + CAST(embedding[29] AS DOUBLE) * (0.8737551066402791) + CAST(embedding[30] AS DOUBLE) * (1.1348800686150466) + CAST(embedding[31] AS DOUBLE) * (-0.5087715850370743) + CAST(embedding[32] AS DOUBLE) * (1.296037404449276) + CAST(embedding[33] AS DOUBLE) * (0.0018052562936504235) + CAST(embedding[34] AS DOUBLE) * (-1.36565838460654) + CAST(embedding[35] AS DOUBLE) * (-0.6500127193478521) + CAST(embedding[36] AS DOUBLE) * (-0.13071091507238033) + CAST(embedding[37] AS DOUBLE) * (-1.5837538403030738) + CAST(embedding[38] AS DOUBLE) * (2.2628369079538735) + CAST(embedding[39] AS DOUBLE) * (-0.09521879011087905) + CAST(embedding[40] AS DOUBLE) * (0.8124042003523465) + CAST(embedding[41] AS DOUBLE) * (-1.255509101479582) + CAST(embedding[42] AS DOUBLE) * (0.0530108005322944) + CAST(embedding[43] AS DOUBLE) * (0.21182726651582146) + CAST(embedding[44] AS DOUBLE) * (-0.8092799626437538) + CAST(embedding[45] AS DOUBLE) * (0.20626903737753405) + CAST(embedding[46] AS DOUBLE) * (-0.04907170187196181) + CAST(embedding[47] AS DOUBLE) * (0.3258436076148109) + CAST(embedding[48] AS DOUBLE) * (-1.2571816902337878) + CAST(embedding[49] AS DOUBLE) * (0.4688023114122624) + CAST(embedding[50] AS DOUBLE) * (-0.33539208585959696) + CAST(embedding[51] AS DOUBLE) * (-0.9039221037915418) + CAST(embedding[52] AS DOUBLE) * (-2.2507551654725955) + CAST(embedding[53] AS DOUBLE) * (-0.24311613959906464) + CAST(embedding[54] AS DOUBLE) * (-0.4234778923387934) + CAST(embedding[55] AS DOUBLE) * (2.3241261682014445) + CAST(embedding[56] AS DOUBLE) * (-1.2599687399625334) + CAST(embedding[57] AS DOUBLE) * (1.437920339605771) + CAST(embedding[58] AS DOUBLE) * (1.2018382309577607) + CAST(embedding[59] AS DOUBLE) * (0.3616923881852431) + CAST(embedding[60] AS DOUBLE) * (0.19685995196008332) + CAST(embedding[61] AS DOUBLE) * (0.44871021855705817) + CAST(embedding[62] AS DOUBLE) * (-1.5310097755490863) + CAST(embedding[63] AS DOUBLE) * (1.3629990284110212) + CAST(embedding[64] AS DOUBLE) * (-0.37575527691480226)) AS d4,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (-0.7947778644467747) + CAST(embedding[2] AS DOUBLE) * (-0.05852227728787731) + CAST(embedding[3] AS DOUBLE) * (-2.8045415901619384) + CAST(embedding[4] AS DOUBLE) * (-1.3817059570353538) + CAST(embedding[5] AS DOUBLE) * (-1.234285363554774) + CAST(embedding[6] AS DOUBLE) * (-1.6260875570033846) + CAST(embedding[7] AS DOUBLE) * (0.5283780595294192) + CAST(embedding[8] AS DOUBLE) * (1.541627876647064) + CAST(embedding[9] AS DOUBLE) * (-0.04380232236531185) + CAST(embedding[10] AS DOUBLE) * (-0.3808693638733885) + CAST(embedding[11] AS DOUBLE) * (0.26569696955107225) + CAST(embedding[12] AS DOUBLE) * (-0.5628030454699816) + CAST(embedding[13] AS DOUBLE) * (0.07242262333062274) + CAST(embedding[14] AS DOUBLE) * (0.34797569121261673) + CAST(embedding[15] AS DOUBLE) * (-0.28899664155805754) + CAST(embedding[16] AS DOUBLE) * (-0.47273353990752054) + CAST(embedding[17] AS DOUBLE) * (0.008928680217665505) + CAST(embedding[18] AS DOUBLE) * (-0.0013740579127432837) + CAST(embedding[19] AS DOUBLE) * (0.6161441992327087) + CAST(embedding[20] AS DOUBLE) * (-1.5708830259208595) + CAST(embedding[21] AS DOUBLE) * (-1.181197430345938) + CAST(embedding[22] AS DOUBLE) * (-0.5494965129653983) + CAST(embedding[23] AS DOUBLE) * (0.4223235129329929) + CAST(embedding[24] AS DOUBLE) * (-1.3582479165312398) + CAST(embedding[25] AS DOUBLE) * (1.1434705589262233) + CAST(embedding[26] AS DOUBLE) * (1.3711530838883825) + CAST(embedding[27] AS DOUBLE) * (-0.8041058814045516) + CAST(embedding[28] AS DOUBLE) * (1.0518710262188335) + CAST(embedding[29] AS DOUBLE) * (-2.1584687113921723) + CAST(embedding[30] AS DOUBLE) * (-0.1689834391167954) + CAST(embedding[31] AS DOUBLE) * (-1.6827624623764945) + CAST(embedding[32] AS DOUBLE) * (1.004328081148524) + CAST(embedding[33] AS DOUBLE) * (0.7737494782789223) + CAST(embedding[34] AS DOUBLE) * (0.43687846229075655) + CAST(embedding[35] AS DOUBLE) * (-0.658512441565811) + CAST(embedding[36] AS DOUBLE) * (-1.2081362876944632) + CAST(embedding[37] AS DOUBLE) * (0.33760528864078715) + CAST(embedding[38] AS DOUBLE) * (-0.5934512271284091) + CAST(embedding[39] AS DOUBLE) * (0.5951157345614863) + CAST(embedding[40] AS DOUBLE) * (-1.679699071166524) + CAST(embedding[41] AS DOUBLE) * (0.34202596439694716) + CAST(embedding[42] AS DOUBLE) * (0.42926377823421663) + CAST(embedding[43] AS DOUBLE) * (-2.3607228054565166) + CAST(embedding[44] AS DOUBLE) * (-1.3620562678720927) + CAST(embedding[45] AS DOUBLE) * (-0.7983500770069416) + CAST(embedding[46] AS DOUBLE) * (-0.6926084979201165) + CAST(embedding[47] AS DOUBLE) * (-1.8194963117993583) + CAST(embedding[48] AS DOUBLE) * (-0.07854544950212143) + CAST(embedding[49] AS DOUBLE) * (-1.2284275858154199) + CAST(embedding[50] AS DOUBLE) * (-0.17315255289660084) + CAST(embedding[51] AS DOUBLE) * (-1.9322142868596925) + CAST(embedding[52] AS DOUBLE) * (-1.2829044054762906) + CAST(embedding[53] AS DOUBLE) * (0.5952853448404123) + CAST(embedding[54] AS DOUBLE) * (-1.8166389063657566) + CAST(embedding[55] AS DOUBLE) * (-0.13762472518828797) + CAST(embedding[56] AS DOUBLE) * (1.346990270951265) + CAST(embedding[57] AS DOUBLE) * (0.705411932804584) + CAST(embedding[58] AS DOUBLE) * (-1.426605036010627) + CAST(embedding[59] AS DOUBLE) * (2.120494170569089) + CAST(embedding[60] AS DOUBLE) * (-0.6623332053082052) + CAST(embedding[61] AS DOUBLE) * (0.8284020450783798) + CAST(embedding[62] AS DOUBLE) * (0.8562258373216443) + CAST(embedding[63] AS DOUBLE) * (-0.42454557593913733) + CAST(embedding[64] AS DOUBLE) * (0.5281384850286454)) AS d5,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (-2.867178892919951) + CAST(embedding[2] AS DOUBLE) * (-0.014412160718381457) + CAST(embedding[3] AS DOUBLE) * (0.05234612813163368) + CAST(embedding[4] AS DOUBLE) * (-0.4539318170208948) + CAST(embedding[5] AS DOUBLE) * (0.013701766992264827) + CAST(embedding[6] AS DOUBLE) * (0.9606269994654866) + CAST(embedding[7] AS DOUBLE) * (0.8327750862020745) + CAST(embedding[8] AS DOUBLE) * (-0.7328008429279502) + CAST(embedding[9] AS DOUBLE) * (0.6805314377419137) + CAST(embedding[10] AS DOUBLE) * (1.065252544549058) + CAST(embedding[11] AS DOUBLE) * (0.0048729387265171184) + CAST(embedding[12] AS DOUBLE) * (0.2795742562054778) + CAST(embedding[13] AS DOUBLE) * (-2.5594752096923545) + CAST(embedding[14] AS DOUBLE) * (-1.6851241814078173) + CAST(embedding[15] AS DOUBLE) * (0.26466288962501844) + CAST(embedding[16] AS DOUBLE) * (-1.6109355687952482) + CAST(embedding[17] AS DOUBLE) * (0.7376584319939369) + CAST(embedding[18] AS DOUBLE) * (1.051484392930078) + CAST(embedding[19] AS DOUBLE) * (-1.1004340464023763) + CAST(embedding[20] AS DOUBLE) * (-1.279068917041472) + CAST(embedding[21] AS DOUBLE) * (-0.31261795810011056) + CAST(embedding[22] AS DOUBLE) * (0.10877375391194066) + CAST(embedding[23] AS DOUBLE) * (0.7059803345572462) + CAST(embedding[24] AS DOUBLE) * (-0.3447156772701103) + CAST(embedding[25] AS DOUBLE) * (-0.08120720538357118) + CAST(embedding[26] AS DOUBLE) * (-1.1141969123870266) + CAST(embedding[27] AS DOUBLE) * (0.1655998241668755) + CAST(embedding[28] AS DOUBLE) * (-0.8926007260578619) + CAST(embedding[29] AS DOUBLE) * (0.8836023148699121) + CAST(embedding[30] AS DOUBLE) * (0.5801154661864193) + CAST(embedding[31] AS DOUBLE) * (-1.759705839340602) + CAST(embedding[32] AS DOUBLE) * (0.2221101930249379) + CAST(embedding[33] AS DOUBLE) * (-1.2190700721734948) + CAST(embedding[34] AS DOUBLE) * (0.8424955329791077) + CAST(embedding[35] AS DOUBLE) * (-1.1579934780764047) + CAST(embedding[36] AS DOUBLE) * (1.139089755685921) + CAST(embedding[37] AS DOUBLE) * (0.9439159185507873) + CAST(embedding[38] AS DOUBLE) * (1.8304775554308583) + CAST(embedding[39] AS DOUBLE) * (0.20583113624178975) + CAST(embedding[40] AS DOUBLE) * (-0.07499538209307) + CAST(embedding[41] AS DOUBLE) * (1.0925066694797367) + CAST(embedding[42] AS DOUBLE) * (-1.3480225719696288) + CAST(embedding[43] AS DOUBLE) * (-0.16584562030131741) + CAST(embedding[44] AS DOUBLE) * (-0.44313981341190406) + CAST(embedding[45] AS DOUBLE) * (-0.1847504751802749) + CAST(embedding[46] AS DOUBLE) * (-1.7087477710841579) + CAST(embedding[47] AS DOUBLE) * (-1.8059707894328) + CAST(embedding[48] AS DOUBLE) * (-1.835201970038044) + CAST(embedding[49] AS DOUBLE) * (1.339074565462185) + CAST(embedding[50] AS DOUBLE) * (-0.4636362240881753) + CAST(embedding[51] AS DOUBLE) * (0.49650648104102196) + CAST(embedding[52] AS DOUBLE) * (-0.2528953507577495) + CAST(embedding[53] AS DOUBLE) * (-0.36709714971435986) + CAST(embedding[54] AS DOUBLE) * (1.1724477771919464) + CAST(embedding[55] AS DOUBLE) * (-2.446486246367169) + CAST(embedding[56] AS DOUBLE) * (-0.3509582401849051) + CAST(embedding[57] AS DOUBLE) * (-0.9154003343631736) + CAST(embedding[58] AS DOUBLE) * (-1.050769234423314) + CAST(embedding[59] AS DOUBLE) * (-1.7456655979827571) + CAST(embedding[60] AS DOUBLE) * (-1.6657081932238365) + CAST(embedding[61] AS DOUBLE) * (-1.3293466137499275) + CAST(embedding[62] AS DOUBLE) * (0.9605050948599068) + CAST(embedding[63] AS DOUBLE) * (-0.8203851403567584) + CAST(embedding[64] AS DOUBLE) * (-0.5972739542453126)) AS d6,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (-0.3065241704037289) + CAST(embedding[2] AS DOUBLE) * (0.4896361685534745) + CAST(embedding[3] AS DOUBLE) * (0.902841462015473) + CAST(embedding[4] AS DOUBLE) * (0.06196851579279813) + CAST(embedding[5] AS DOUBLE) * (-0.1277036103461595) + CAST(embedding[6] AS DOUBLE) * (0.3912936543923712) + CAST(embedding[7] AS DOUBLE) * (-0.9258198733492586) + CAST(embedding[8] AS DOUBLE) * (0.08470690411887269) + CAST(embedding[9] AS DOUBLE) * (1.5566867966361193) + CAST(embedding[10] AS DOUBLE) * (-0.7808313528887589) + CAST(embedding[11] AS DOUBLE) * (-0.9854699391548791) + CAST(embedding[12] AS DOUBLE) * (-1.6683336560385666) + CAST(embedding[13] AS DOUBLE) * (-0.07676378939745575) + CAST(embedding[14] AS DOUBLE) * (0.49125802572320415) + CAST(embedding[15] AS DOUBLE) * (-0.5544581959512096) + CAST(embedding[16] AS DOUBLE) * (-0.45690176428784984) + CAST(embedding[17] AS DOUBLE) * (1.0473897506741645) + CAST(embedding[18] AS DOUBLE) * (-0.09867944161778038) + CAST(embedding[19] AS DOUBLE) * (0.5668522899972447) + CAST(embedding[20] AS DOUBLE) * (-0.4926806964875525) + CAST(embedding[21] AS DOUBLE) * (1.1678215007051747) + CAST(embedding[22] AS DOUBLE) * (0.7800953667303611) + CAST(embedding[23] AS DOUBLE) * (-0.27005431883325964) + CAST(embedding[24] AS DOUBLE) * (-0.7201201782050053) + CAST(embedding[25] AS DOUBLE) * (2.4101526094836845) + CAST(embedding[26] AS DOUBLE) * (-1.1938702258857508) + CAST(embedding[27] AS DOUBLE) * (-1.0837671518955354) + CAST(embedding[28] AS DOUBLE) * (-2.605430611221645) + CAST(embedding[29] AS DOUBLE) * (0.5631159272889905) + CAST(embedding[30] AS DOUBLE) * (-0.05979369278736619) + CAST(embedding[31] AS DOUBLE) * (-0.20377928571933876) + CAST(embedding[32] AS DOUBLE) * (-1.642884187312021) + CAST(embedding[33] AS DOUBLE) * (-0.10347895122531219) + CAST(embedding[34] AS DOUBLE) * (-0.9049566453366972) + CAST(embedding[35] AS DOUBLE) * (-1.2828102907396286) + CAST(embedding[36] AS DOUBLE) * (-0.3580340226410346) + CAST(embedding[37] AS DOUBLE) * (0.19100384998267478) + CAST(embedding[38] AS DOUBLE) * (-0.2630523883776923) + CAST(embedding[39] AS DOUBLE) * (-0.615741925059664) + CAST(embedding[40] AS DOUBLE) * (0.614134732768068) + CAST(embedding[41] AS DOUBLE) * (0.1285628495320423) + CAST(embedding[42] AS DOUBLE) * (-0.48111949365043144) + CAST(embedding[43] AS DOUBLE) * (0.4585404724321882) + CAST(embedding[44] AS DOUBLE) * (0.1872047376906648) + CAST(embedding[45] AS DOUBLE) * (0.797192492326439) + CAST(embedding[46] AS DOUBLE) * (0.7120455700242393) + CAST(embedding[47] AS DOUBLE) * (0.6225385345312664) + CAST(embedding[48] AS DOUBLE) * (-0.6999147038257569) + CAST(embedding[49] AS DOUBLE) * (1.1982937931859536) + CAST(embedding[50] AS DOUBLE) * (0.8838890781065778) + CAST(embedding[51] AS DOUBLE) * (-0.6459344655986408) + CAST(embedding[52] AS DOUBLE) * (1.1296765027760798) + CAST(embedding[53] AS DOUBLE) * (-0.01645034361594869) + CAST(embedding[54] AS DOUBLE) * (-1.1031497528717316) + CAST(embedding[55] AS DOUBLE) * (-0.14576797065044073) + CAST(embedding[56] AS DOUBLE) * (-1.3826115321466308) + CAST(embedding[57] AS DOUBLE) * (1.0117615755188765) + CAST(embedding[58] AS DOUBLE) * (-1.3602385683642157) + CAST(embedding[59] AS DOUBLE) * (1.3472380540651037) + CAST(embedding[60] AS DOUBLE) * (-0.9633846161181444) + CAST(embedding[61] AS DOUBLE) * (-0.2383014785117158) + CAST(embedding[62] AS DOUBLE) * (1.1610250601941312) + CAST(embedding[63] AS DOUBLE) * (0.24445652009324711) + CAST(embedding[64] AS DOUBLE) * (-1.7353167618425036)) AS d7,
         (0.0 + CAST(embedding[1] AS DOUBLE)*CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE)*CAST(embedding[2] AS DOUBLE) + CAST(embedding[3] AS DOUBLE)*CAST(embedding[3] AS DOUBLE) + CAST(embedding[4] AS DOUBLE)*CAST(embedding[4] AS DOUBLE) + CAST(embedding[5] AS DOUBLE)*CAST(embedding[5] AS DOUBLE) + CAST(embedding[6] AS DOUBLE)*CAST(embedding[6] AS DOUBLE) + CAST(embedding[7] AS DOUBLE)*CAST(embedding[7] AS DOUBLE) + CAST(embedding[8] AS DOUBLE)*CAST(embedding[8] AS DOUBLE) + CAST(embedding[9] AS DOUBLE)*CAST(embedding[9] AS DOUBLE) + CAST(embedding[10] AS DOUBLE)*CAST(embedding[10] AS DOUBLE) + CAST(embedding[11] AS DOUBLE)*CAST(embedding[11] AS DOUBLE) + CAST(embedding[12] AS DOUBLE)*CAST(embedding[12] AS DOUBLE) + CAST(embedding[13] AS DOUBLE)*CAST(embedding[13] AS DOUBLE) + CAST(embedding[14] AS DOUBLE)*CAST(embedding[14] AS DOUBLE) + CAST(embedding[15] AS DOUBLE)*CAST(embedding[15] AS DOUBLE) + CAST(embedding[16] AS DOUBLE)*CAST(embedding[16] AS DOUBLE) + CAST(embedding[17] AS DOUBLE)*CAST(embedding[17] AS DOUBLE) + CAST(embedding[18] AS DOUBLE)*CAST(embedding[18] AS DOUBLE) + CAST(embedding[19] AS DOUBLE)*CAST(embedding[19] AS DOUBLE) + CAST(embedding[20] AS DOUBLE)*CAST(embedding[20] AS DOUBLE) + CAST(embedding[21] AS DOUBLE)*CAST(embedding[21] AS DOUBLE) + CAST(embedding[22] AS DOUBLE)*CAST(embedding[22] AS DOUBLE) + CAST(embedding[23] AS DOUBLE)*CAST(embedding[23] AS DOUBLE) + CAST(embedding[24] AS DOUBLE)*CAST(embedding[24] AS DOUBLE) + CAST(embedding[25] AS DOUBLE)*CAST(embedding[25] AS DOUBLE) + CAST(embedding[26] AS DOUBLE)*CAST(embedding[26] AS DOUBLE) + CAST(embedding[27] AS DOUBLE)*CAST(embedding[27] AS DOUBLE) + CAST(embedding[28] AS DOUBLE)*CAST(embedding[28] AS DOUBLE) + CAST(embedding[29] AS DOUBLE)*CAST(embedding[29] AS DOUBLE) + CAST(embedding[30] AS DOUBLE)*CAST(embedding[30] AS DOUBLE) + CAST(embedding[31] AS DOUBLE)*CAST(embedding[31] AS DOUBLE) + CAST(embedding[32] AS DOUBLE)*CAST(embedding[32] AS DOUBLE) + CAST(embedding[33] AS DOUBLE)*CAST(embedding[33] AS DOUBLE) + CAST(embedding[34] AS DOUBLE)*CAST(embedding[34] AS DOUBLE) + CAST(embedding[35] AS DOUBLE)*CAST(embedding[35] AS DOUBLE) + CAST(embedding[36] AS DOUBLE)*CAST(embedding[36] AS DOUBLE) + CAST(embedding[37] AS DOUBLE)*CAST(embedding[37] AS DOUBLE) + CAST(embedding[38] AS DOUBLE)*CAST(embedding[38] AS DOUBLE) + CAST(embedding[39] AS DOUBLE)*CAST(embedding[39] AS DOUBLE) + CAST(embedding[40] AS DOUBLE)*CAST(embedding[40] AS DOUBLE) + CAST(embedding[41] AS DOUBLE)*CAST(embedding[41] AS DOUBLE) + CAST(embedding[42] AS DOUBLE)*CAST(embedding[42] AS DOUBLE) + CAST(embedding[43] AS DOUBLE)*CAST(embedding[43] AS DOUBLE) + CAST(embedding[44] AS DOUBLE)*CAST(embedding[44] AS DOUBLE) + CAST(embedding[45] AS DOUBLE)*CAST(embedding[45] AS DOUBLE) + CAST(embedding[46] AS DOUBLE)*CAST(embedding[46] AS DOUBLE) + CAST(embedding[47] AS DOUBLE)*CAST(embedding[47] AS DOUBLE) + CAST(embedding[48] AS DOUBLE)*CAST(embedding[48] AS DOUBLE) + CAST(embedding[49] AS DOUBLE)*CAST(embedding[49] AS DOUBLE) + CAST(embedding[50] AS DOUBLE)*CAST(embedding[50] AS DOUBLE) + CAST(embedding[51] AS DOUBLE)*CAST(embedding[51] AS DOUBLE) + CAST(embedding[52] AS DOUBLE)*CAST(embedding[52] AS DOUBLE) + CAST(embedding[53] AS DOUBLE)*CAST(embedding[53] AS DOUBLE) + CAST(embedding[54] AS DOUBLE)*CAST(embedding[54] AS DOUBLE) + CAST(embedding[55] AS DOUBLE)*CAST(embedding[55] AS DOUBLE) + CAST(embedding[56] AS DOUBLE)*CAST(embedding[56] AS DOUBLE) + CAST(embedding[57] AS DOUBLE)*CAST(embedding[57] AS DOUBLE) + CAST(embedding[58] AS DOUBLE)*CAST(embedding[58] AS DOUBLE) + CAST(embedding[59] AS DOUBLE)*CAST(embedding[59] AS DOUBLE) + CAST(embedding[60] AS DOUBLE)*CAST(embedding[60] AS DOUBLE) + CAST(embedding[61] AS DOUBLE)*CAST(embedding[61] AS DOUBLE) + CAST(embedding[62] AS DOUBLE)*CAST(embedding[62] AS DOUBLE) + CAST(embedding[63] AS DOUBLE)*CAST(embedding[63] AS DOUBLE) + CAST(embedding[64] AS DOUBLE)*CAST(embedding[64] AS DOUBLE)) AS nrm2
  FROM embeddings),
c AS (
  SELECT vec_id AS neighbor_id, embedding AS c_vec, sqrt(nrm2) AS c_norm,
         CASE WHEN d0 >= d1 AND d0 >= d2 AND d0 >= d3 AND d0 >= d4 AND d0 >= d5 AND d0 >= d6 AND d0 >= d7 THEN 0 WHEN d1 >= d0 AND d1 >= d2 AND d1 >= d3 AND d1 >= d4 AND d1 >= d5 AND d1 >= d6 AND d1 >= d7 THEN 1 WHEN d2 >= d0 AND d2 >= d1 AND d2 >= d3 AND d2 >= d4 AND d2 >= d5 AND d2 >= d6 AND d2 >= d7 THEN 2 WHEN d3 >= d0 AND d3 >= d1 AND d3 >= d2 AND d3 >= d4 AND d3 >= d5 AND d3 >= d6 AND d3 >= d7 THEN 3 WHEN d4 >= d0 AND d4 >= d1 AND d4 >= d2 AND d4 >= d3 AND d4 >= d5 AND d4 >= d6 AND d4 >= d7 THEN 4 WHEN d5 >= d0 AND d5 >= d1 AND d5 >= d2 AND d5 >= d3 AND d5 >= d4 AND d5 >= d6 AND d5 >= d7 THEN 5 WHEN d6 >= d0 AND d6 >= d1 AND d6 >= d2 AND d6 >= d3 AND d6 >= d4 AND d6 >= d5 AND d6 >= d7 THEN 6 ELSE 7 END AS list_id
  FROM base),
qd AS (SELECT * FROM base WHERE vec_id < 10),
qs AS (
  SELECT vec_id AS q_id, embedding AS q_vec, sqrt(nrm2) AS q_norm,
         i AS list_id, CASE i WHEN 0 THEN d0 WHEN 1 THEN d1 WHEN 2 THEN d2 WHEN 3 THEN d3 WHEN 4 THEN d4 WHEN 5 THEN d5 WHEN 6 THEN d6 WHEN 7 THEN d7 END AS cd
  FROM qd CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS i)),
probes AS (
  SELECT q_id, q_vec, q_norm, list_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cd DESC, list_id) AS pr FROM qs)
  WHERE pr <= 1),
scored AS (
  SELECT q_id, neighbor_id,
         (0.0 + CAST(q_vec[1] AS DOUBLE)*CAST(c_vec[1] AS DOUBLE) + CAST(q_vec[2] AS DOUBLE)*CAST(c_vec[2] AS DOUBLE) + CAST(q_vec[3] AS DOUBLE)*CAST(c_vec[3] AS DOUBLE) + CAST(q_vec[4] AS DOUBLE)*CAST(c_vec[4] AS DOUBLE) + CAST(q_vec[5] AS DOUBLE)*CAST(c_vec[5] AS DOUBLE) + CAST(q_vec[6] AS DOUBLE)*CAST(c_vec[6] AS DOUBLE) + CAST(q_vec[7] AS DOUBLE)*CAST(c_vec[7] AS DOUBLE) + CAST(q_vec[8] AS DOUBLE)*CAST(c_vec[8] AS DOUBLE) + CAST(q_vec[9] AS DOUBLE)*CAST(c_vec[9] AS DOUBLE) + CAST(q_vec[10] AS DOUBLE)*CAST(c_vec[10] AS DOUBLE) + CAST(q_vec[11] AS DOUBLE)*CAST(c_vec[11] AS DOUBLE) + CAST(q_vec[12] AS DOUBLE)*CAST(c_vec[12] AS DOUBLE) + CAST(q_vec[13] AS DOUBLE)*CAST(c_vec[13] AS DOUBLE) + CAST(q_vec[14] AS DOUBLE)*CAST(c_vec[14] AS DOUBLE) + CAST(q_vec[15] AS DOUBLE)*CAST(c_vec[15] AS DOUBLE) + CAST(q_vec[16] AS DOUBLE)*CAST(c_vec[16] AS DOUBLE) + CAST(q_vec[17] AS DOUBLE)*CAST(c_vec[17] AS DOUBLE) + CAST(q_vec[18] AS DOUBLE)*CAST(c_vec[18] AS DOUBLE) + CAST(q_vec[19] AS DOUBLE)*CAST(c_vec[19] AS DOUBLE) + CAST(q_vec[20] AS DOUBLE)*CAST(c_vec[20] AS DOUBLE) + CAST(q_vec[21] AS DOUBLE)*CAST(c_vec[21] AS DOUBLE) + CAST(q_vec[22] AS DOUBLE)*CAST(c_vec[22] AS DOUBLE) + CAST(q_vec[23] AS DOUBLE)*CAST(c_vec[23] AS DOUBLE) + CAST(q_vec[24] AS DOUBLE)*CAST(c_vec[24] AS DOUBLE) + CAST(q_vec[25] AS DOUBLE)*CAST(c_vec[25] AS DOUBLE) + CAST(q_vec[26] AS DOUBLE)*CAST(c_vec[26] AS DOUBLE) + CAST(q_vec[27] AS DOUBLE)*CAST(c_vec[27] AS DOUBLE) + CAST(q_vec[28] AS DOUBLE)*CAST(c_vec[28] AS DOUBLE) + CAST(q_vec[29] AS DOUBLE)*CAST(c_vec[29] AS DOUBLE) + CAST(q_vec[30] AS DOUBLE)*CAST(c_vec[30] AS DOUBLE) + CAST(q_vec[31] AS DOUBLE)*CAST(c_vec[31] AS DOUBLE) + CAST(q_vec[32] AS DOUBLE)*CAST(c_vec[32] AS DOUBLE) + CAST(q_vec[33] AS DOUBLE)*CAST(c_vec[33] AS DOUBLE) + CAST(q_vec[34] AS DOUBLE)*CAST(c_vec[34] AS DOUBLE) + CAST(q_vec[35] AS DOUBLE)*CAST(c_vec[35] AS DOUBLE) + CAST(q_vec[36] AS DOUBLE)*CAST(c_vec[36] AS DOUBLE) + CAST(q_vec[37] AS DOUBLE)*CAST(c_vec[37] AS DOUBLE) + CAST(q_vec[38] AS DOUBLE)*CAST(c_vec[38] AS DOUBLE) + CAST(q_vec[39] AS DOUBLE)*CAST(c_vec[39] AS DOUBLE) + CAST(q_vec[40] AS DOUBLE)*CAST(c_vec[40] AS DOUBLE) + CAST(q_vec[41] AS DOUBLE)*CAST(c_vec[41] AS DOUBLE) + CAST(q_vec[42] AS DOUBLE)*CAST(c_vec[42] AS DOUBLE) + CAST(q_vec[43] AS DOUBLE)*CAST(c_vec[43] AS DOUBLE) + CAST(q_vec[44] AS DOUBLE)*CAST(c_vec[44] AS DOUBLE) + CAST(q_vec[45] AS DOUBLE)*CAST(c_vec[45] AS DOUBLE) + CAST(q_vec[46] AS DOUBLE)*CAST(c_vec[46] AS DOUBLE) + CAST(q_vec[47] AS DOUBLE)*CAST(c_vec[47] AS DOUBLE) + CAST(q_vec[48] AS DOUBLE)*CAST(c_vec[48] AS DOUBLE) + CAST(q_vec[49] AS DOUBLE)*CAST(c_vec[49] AS DOUBLE) + CAST(q_vec[50] AS DOUBLE)*CAST(c_vec[50] AS DOUBLE) + CAST(q_vec[51] AS DOUBLE)*CAST(c_vec[51] AS DOUBLE) + CAST(q_vec[52] AS DOUBLE)*CAST(c_vec[52] AS DOUBLE) + CAST(q_vec[53] AS DOUBLE)*CAST(c_vec[53] AS DOUBLE) + CAST(q_vec[54] AS DOUBLE)*CAST(c_vec[54] AS DOUBLE) + CAST(q_vec[55] AS DOUBLE)*CAST(c_vec[55] AS DOUBLE) + CAST(q_vec[56] AS DOUBLE)*CAST(c_vec[56] AS DOUBLE) + CAST(q_vec[57] AS DOUBLE)*CAST(c_vec[57] AS DOUBLE) + CAST(q_vec[58] AS DOUBLE)*CAST(c_vec[58] AS DOUBLE) + CAST(q_vec[59] AS DOUBLE)*CAST(c_vec[59] AS DOUBLE) + CAST(q_vec[60] AS DOUBLE)*CAST(c_vec[60] AS DOUBLE) + CAST(q_vec[61] AS DOUBLE)*CAST(c_vec[61] AS DOUBLE) + CAST(q_vec[62] AS DOUBLE)*CAST(c_vec[62] AS DOUBLE) + CAST(q_vec[63] AS DOUBLE)*CAST(c_vec[63] AS DOUBLE) + CAST(q_vec[64] AS DOUBLE)*CAST(c_vec[64] AS DOUBLE)) / (q_norm * c_norm) AS cos_sim
  FROM probes JOIN c USING (list_id)
  WHERE q_id <> neighbor_id),
r AS (
  SELECT q_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS "rank"
  FROM scored)
SELECT q_id, neighbor_id, cos_sim, "rank" FROM r WHERE "rank" <= 5

      ) a ON a.q_id = e.q_id AND a.neighbor_id = e.neighbor_id) nh
UNION ALL
SELECT CAST(2 AS BIGINT) AS nprobe,
       ne.n_exact,
       CAST(COALESCE(nh.n_hits, 0) AS BIGINT) AS n_hits,
       CAST((1000000 * COALESCE(nh.n_hits, 0)) // ne.n_exact AS BIGINT)
         AS recall_ppm,
       CAST(CAST((1000000 * COALESCE(nh.n_hits, 0)) // ne.n_exact AS BIGINT)
            AS DOUBLE) / 1000000.0 AS mean_recall_at_5
FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact) ne,
     (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM exact e SEMI JOIN (
        
WITH base AS (
  SELECT vec_id, embedding,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (2.1699867207380645) + CAST(embedding[2] AS DOUBLE) * (-1.1079786469680795) + CAST(embedding[3] AS DOUBLE) * (0.32589852902934197) + CAST(embedding[4] AS DOUBLE) * (-0.2613181260001577) + CAST(embedding[5] AS DOUBLE) * (-0.8792737317600035) + CAST(embedding[6] AS DOUBLE) * (-0.5738432527438687) + CAST(embedding[7] AS DOUBLE) * (-0.5189988677338094) + CAST(embedding[8] AS DOUBLE) * (-0.09930180207886077) + CAST(embedding[9] AS DOUBLE) * (0.3865300173736704) + CAST(embedding[10] AS DOUBLE) * (1.0132288958817026) + CAST(embedding[11] AS DOUBLE) * (0.1993937448867829) + CAST(embedding[12] AS DOUBLE) * (1.083652184372391) + CAST(embedding[13] AS DOUBLE) * (0.41838593160240717) + CAST(embedding[14] AS DOUBLE) * (0.06563800441896446) + CAST(embedding[15] AS DOUBLE) * (-0.2600355441139246) + CAST(embedding[16] AS DOUBLE) * (-1.0129882532193426) + CAST(embedding[17] AS DOUBLE) * (-1.6227835267832889) + CAST(embedding[18] AS DOUBLE) * (-0.12908990923609442) + CAST(embedding[19] AS DOUBLE) * (-0.21779878046596632) + CAST(embedding[20] AS DOUBLE) * (0.26667982053102357) + CAST(embedding[21] AS DOUBLE) * (0.27541138031975404) + CAST(embedding[22] AS DOUBLE) * (-1.3050186513030222) + CAST(embedding[23] AS DOUBLE) * (-0.7617561033214943) + CAST(embedding[24] AS DOUBLE) * (-1.1662421256928086) + CAST(embedding[25] AS DOUBLE) * (0.9333744438300192) + CAST(embedding[26] AS DOUBLE) * (-0.17358590709943209) + CAST(embedding[27] AS DOUBLE) * (0.058939725195320716) + CAST(embedding[28] AS DOUBLE) * (-0.9572998593896521) + CAST(embedding[29] AS DOUBLE) * (-1.3218914690449026) + CAST(embedding[30] AS DOUBLE) * (-0.6429267245125667) + CAST(embedding[31] AS DOUBLE) * (-0.16666669030021375) + CAST(embedding[32] AS DOUBLE) * (0.38922269236616275) + CAST(embedding[33] AS DOUBLE) * (-1.5698649077430762) + CAST(embedding[34] AS DOUBLE) * (0.2580906391925216) + CAST(embedding[35] AS DOUBLE) * (-0.9174271914240806) + CAST(embedding[36] AS DOUBLE) * (-0.5871590042364816) + CAST(embedding[37] AS DOUBLE) * (-0.3967328554866439) + CAST(embedding[38] AS DOUBLE) * (-0.4944293277464607) + CAST(embedding[39] AS DOUBLE) * (0.3836936908556341) + CAST(embedding[40] AS DOUBLE) * (0.7963452140503653) + CAST(embedding[41] AS DOUBLE) * (0.2653578014361696) + CAST(embedding[42] AS DOUBLE) * (-0.6040877453680568) + CAST(embedding[43] AS DOUBLE) * (0.34311174030663366) + CAST(embedding[44] AS DOUBLE) * (0.2998265924250336) + CAST(embedding[45] AS DOUBLE) * (0.7790426349105024) + CAST(embedding[46] AS DOUBLE) * (0.19446738261662008) + CAST(embedding[47] AS DOUBLE) * (-1.6632085503210128) + CAST(embedding[48] AS DOUBLE) * (-0.8189728069149812) + CAST(embedding[49] AS DOUBLE) * (-0.46707926266240857) + CAST(embedding[50] AS DOUBLE) * (0.8395293649822554) + CAST(embedding[51] AS DOUBLE) * (-0.20417990201901623) + CAST(embedding[52] AS DOUBLE) * (0.8278803215597093) + CAST(embedding[53] AS DOUBLE) * (0.2176122939560562) + CAST(embedding[54] AS DOUBLE) * (-1.2430574445381901) + CAST(embedding[55] AS DOUBLE) * (-0.025168925059448097) + CAST(embedding[56] AS DOUBLE) * (0.47538289273474205) + CAST(embedding[57] AS DOUBLE) * (0.3304218683244367) + CAST(embedding[58] AS DOUBLE) * (-1.5319811285805112) + CAST(embedding[59] AS DOUBLE) * (0.34938270914619535) + CAST(embedding[60] AS DOUBLE) * (-0.6493215352430751) + CAST(embedding[61] AS DOUBLE) * (-2.1497412615528795) + CAST(embedding[62] AS DOUBLE) * (-0.6315801328620507) + CAST(embedding[63] AS DOUBLE) * (-2.014360452151887) + CAST(embedding[64] AS DOUBLE) * (-1.3267366695720195)) AS d0,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (1.3493736079095395) + CAST(embedding[2] AS DOUBLE) * (2.3574281217314046) + CAST(embedding[3] AS DOUBLE) * (0.974146861617726) + CAST(embedding[4] AS DOUBLE) * (0.357087420914038) + CAST(embedding[5] AS DOUBLE) * (1.8016409257375818) + CAST(embedding[6] AS DOUBLE) * (0.26638405191451425) + CAST(embedding[7] AS DOUBLE) * (-1.0370842279937875) + CAST(embedding[8] AS DOUBLE) * (-2.4906909937084873) + CAST(embedding[9] AS DOUBLE) * (0.8254096438714261) + CAST(embedding[10] AS DOUBLE) * (-2.2943036014164484) + CAST(embedding[11] AS DOUBLE) * (-2.8931104935975456) + CAST(embedding[12] AS DOUBLE) * (-0.7156833317563337) + CAST(embedding[13] AS DOUBLE) * (-0.005708669074363964) + CAST(embedding[14] AS DOUBLE) * (-0.9217913295819) + CAST(embedding[15] AS DOUBLE) * (0.9602720655965147) + CAST(embedding[16] AS DOUBLE) * (-0.1558601247108059) + CAST(embedding[17] AS DOUBLE) * (0.1385213470528602) + CAST(embedding[18] AS DOUBLE) * (0.37233344158813425) + CAST(embedding[19] AS DOUBLE) * (-0.6466728025715587) + CAST(embedding[20] AS DOUBLE) * (0.14046778335765708) + CAST(embedding[21] AS DOUBLE) * (2.241058348597844) + CAST(embedding[22] AS DOUBLE) * (-0.9936560252826314) + CAST(embedding[23] AS DOUBLE) * (0.09924581890662353) + CAST(embedding[24] AS DOUBLE) * (0.45680624649786206) + CAST(embedding[25] AS DOUBLE) * (-0.5997515566709185) + CAST(embedding[26] AS DOUBLE) * (-0.11039093342551126) + CAST(embedding[27] AS DOUBLE) * (-1.7623232504526851) + CAST(embedding[28] AS DOUBLE) * (-0.4958115189101038) + CAST(embedding[29] AS DOUBLE) * (-0.0201379494688227) + CAST(embedding[30] AS DOUBLE) * (1.0464692871649537) + CAST(embedding[31] AS DOUBLE) * (0.8809726108343329) + CAST(embedding[32] AS DOUBLE) * (-0.6327352439223559) + CAST(embedding[33] AS DOUBLE) * (-1.1621814459462878) + CAST(embedding[34] AS DOUBLE) * (1.7625781817792587) + CAST(embedding[35] AS DOUBLE) * (0.8282498279041635) + CAST(embedding[36] AS DOUBLE) * (-1.9557748532393313) + CAST(embedding[37] AS DOUBLE) * (-0.3933080562650607) + CAST(embedding[38] AS DOUBLE) * (-0.9536681309415094) + CAST(embedding[39] AS DOUBLE) * (-0.6594392644762228) + CAST(embedding[40] AS DOUBLE) * (-1.7626492943072107) + CAST(embedding[41] AS DOUBLE) * (-0.472197460916041) + CAST(embedding[42] AS DOUBLE) * (-0.5672394944152519) + CAST(embedding[43] AS DOUBLE) * (-0.2879880583495375) + CAST(embedding[44] AS DOUBLE) * (0.9854077784688751) + CAST(embedding[45] AS DOUBLE) * (0.17319721429439905) + CAST(embedding[46] AS DOUBLE) * (-1.2644298905718279) + CAST(embedding[47] AS DOUBLE) * (-1.7804125913447617) + CAST(embedding[48] AS DOUBLE) * (-0.577718169360636) + CAST(embedding[49] AS DOUBLE) * (1.0971025606641962) + CAST(embedding[50] AS DOUBLE) * (0.8897058942385211) + CAST(embedding[51] AS DOUBLE) * (-0.6343255841530552) + CAST(embedding[52] AS DOUBLE) * (1.1120537078981618) + CAST(embedding[53] AS DOUBLE) * (0.38607355508082786) + CAST(embedding[54] AS DOUBLE) * (-0.6495553124107992) + CAST(embedding[55] AS DOUBLE) * (0.38593414967709216) + CAST(embedding[56] AS DOUBLE) * (-0.12134036219142272) + CAST(embedding[57] AS DOUBLE) * (-1.1557145875624628) + CAST(embedding[58] AS DOUBLE) * (-0.47464504737753843) + CAST(embedding[59] AS DOUBLE) * (0.12008435874037364) + CAST(embedding[60] AS DOUBLE) * (1.2772627323647865) + CAST(embedding[61] AS DOUBLE) * (-1.0743630492761616) + CAST(embedding[62] AS DOUBLE) * (0.19986415492529624) + CAST(embedding[63] AS DOUBLE) * (-0.017542016902101762) + CAST(embedding[64] AS DOUBLE) * (-0.08713110155989824)) AS d1,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (-1.2577899221671323) + CAST(embedding[2] AS DOUBLE) * (1.2238452093167131) + CAST(embedding[3] AS DOUBLE) * (1.263096024693588) + CAST(embedding[4] AS DOUBLE) * (1.5637409056484606) + CAST(embedding[5] AS DOUBLE) * (0.4346549890366623) + CAST(embedding[6] AS DOUBLE) * (1.4481024662776967) + CAST(embedding[7] AS DOUBLE) * (0.507100012249707) + CAST(embedding[8] AS DOUBLE) * (0.9675054979514186) + CAST(embedding[9] AS DOUBLE) * (-0.3651744157515609) + CAST(embedding[10] AS DOUBLE) * (0.19320234038107062) + CAST(embedding[11] AS DOUBLE) * (-0.3561747033097989) + CAST(embedding[12] AS DOUBLE) * (-1.0870443640097944) + CAST(embedding[13] AS DOUBLE) * (-0.465399551284373) + CAST(embedding[14] AS DOUBLE) * (-1.1544247120052649) + CAST(embedding[15] AS DOUBLE) * (-1.1476073231678856) + CAST(embedding[16] AS DOUBLE) * (-0.42027133190649063) + CAST(embedding[17] AS DOUBLE) * (-0.6330853856097824) + CAST(embedding[18] AS DOUBLE) * (2.0444062851033893) + CAST(embedding[19] AS DOUBLE) * (1.7516585550837993) + CAST(embedding[20] AS DOUBLE) * (1.056693813220963) + CAST(embedding[21] AS DOUBLE) * (0.7676403805488081) + CAST(embedding[22] AS DOUBLE) * (-0.8878444326095933) + CAST(embedding[23] AS DOUBLE) * (0.25208493059671166) + CAST(embedding[24] AS DOUBLE) * (-1.4745464839005809) + CAST(embedding[25] AS DOUBLE) * (-0.6559112954973413) + CAST(embedding[26] AS DOUBLE) * (-0.5092626329019135) + CAST(embedding[27] AS DOUBLE) * (-0.3929214550556583) + CAST(embedding[28] AS DOUBLE) * (0.8398049213708733) + CAST(embedding[29] AS DOUBLE) * (-0.8159739708198376) + CAST(embedding[30] AS DOUBLE) * (2.399401534052994) + CAST(embedding[31] AS DOUBLE) * (-0.537288680108295) + CAST(embedding[32] AS DOUBLE) * (0.8318037860239111) + CAST(embedding[33] AS DOUBLE) * (-1.6112314486636563) + CAST(embedding[34] AS DOUBLE) * (0.8915986994252159) + CAST(embedding[35] AS DOUBLE) * (-1.2579555057468832) + CAST(embedding[36] AS DOUBLE) * (0.17694713662863804) + CAST(embedding[37] AS DOUBLE) * (-0.027799675848140755) + CAST(embedding[38] AS DOUBLE) * (0.806772028799457) + CAST(embedding[39] AS DOUBLE) * (0.5931122307963466) + CAST(embedding[40] AS DOUBLE) * (0.3716502220952085) + CAST(embedding[41] AS DOUBLE) * (-0.17044108877256595) + CAST(embedding[42] AS DOUBLE) * (1.9482546830194398) + CAST(embedding[43] AS DOUBLE) * (-0.4836175932225871) + CAST(embedding[44] AS DOUBLE) * (-0.0075057864212346405) + CAST(embedding[45] AS DOUBLE) * (-0.49385748676794844) + CAST(embedding[46] AS DOUBLE) * (0.11783361787735049) + CAST(embedding[47] AS DOUBLE) * (-0.9887567934156685) + CAST(embedding[48] AS DOUBLE) * (-0.4354688770225977) + CAST(embedding[49] AS DOUBLE) * (0.48738439368472414) + CAST(embedding[50] AS DOUBLE) * (-0.602248233707375) + CAST(embedding[51] AS DOUBLE) * (0.4466700731791106) + CAST(embedding[52] AS DOUBLE) * (-0.6078380273189347) + CAST(embedding[53] AS DOUBLE) * (1.4097234509113148) + CAST(embedding[54] AS DOUBLE) * (-0.1546127976471008) + CAST(embedding[55] AS DOUBLE) * (1.749526258188258) + CAST(embedding[56] AS DOUBLE) * (0.4807392105214751) + CAST(embedding[57] AS DOUBLE) * (-0.15217871610095032) + CAST(embedding[58] AS DOUBLE) * (0.9361867677371898) + CAST(embedding[59] AS DOUBLE) * (1.1532396953425783) + CAST(embedding[60] AS DOUBLE) * (1.5176908046780375) + CAST(embedding[61] AS DOUBLE) * (1.3803800500086394) + CAST(embedding[62] AS DOUBLE) * (0.8805727241350567) + CAST(embedding[63] AS DOUBLE) * (-1.1960999758221535) + CAST(embedding[64] AS DOUBLE) * (0.9190929105729782)) AS d2,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (-0.10792485825603078) + CAST(embedding[2] AS DOUBLE) * (0.3890662859329336) + CAST(embedding[3] AS DOUBLE) * (1.25611361970282) + CAST(embedding[4] AS DOUBLE) * (-0.7410543634213287) + CAST(embedding[5] AS DOUBLE) * (1.3219520960862796) + CAST(embedding[6] AS DOUBLE) * (2.393301535353535) + CAST(embedding[7] AS DOUBLE) * (0.5400220323247202) + CAST(embedding[8] AS DOUBLE) * (-0.3341185904146626) + CAST(embedding[9] AS DOUBLE) * (1.3642857310773209) + CAST(embedding[10] AS DOUBLE) * (0.16451609607500065) + CAST(embedding[11] AS DOUBLE) * (1.040910589547841) + CAST(embedding[12] AS DOUBLE) * (1.2446772140820774) + CAST(embedding[13] AS DOUBLE) * (-1.541449720077563) + CAST(embedding[14] AS DOUBLE) * (0.30534870637785144) + CAST(embedding[15] AS DOUBLE) * (-1.5538648135614217) + CAST(embedding[16] AS DOUBLE) * (-0.7287070272880077) + CAST(embedding[17] AS DOUBLE) * (0.5912253194840534) + CAST(embedding[18] AS DOUBLE) * (-1.223766592640582) + CAST(embedding[19] AS DOUBLE) * (-0.7469985407047881) + CAST(embedding[20] AS DOUBLE) * (-0.48331609778728823) + CAST(embedding[21] AS DOUBLE) * (0.29323698553435634) + CAST(embedding[22] AS DOUBLE) * (0.32880305059786946) + CAST(embedding[23] AS DOUBLE) * (0.42292750142841234) + CAST(embedding[24] AS DOUBLE) * (-0.5316968847836061) + CAST(embedding[25] AS DOUBLE) * (-0.7815327894493503) + CAST(embedding[26] AS DOUBLE) * (0.3885821285897724) + CAST(embedding[27] AS DOUBLE) * (-0.9019256859772758) + CAST(embedding[28] AS DOUBLE) * (-0.8431287655483993) + CAST(embedding[29] AS DOUBLE) * (0.6772483102750041) + CAST(embedding[30] AS DOUBLE) * (-0.8287843545557869) + CAST(embedding[31] AS DOUBLE) * (-0.9384932157294542) + CAST(embedding[32] AS DOUBLE) * (1.1071798435579583) + CAST(embedding[33] AS DOUBLE) * (-0.07440455496353912) + CAST(embedding[34] AS DOUBLE) * (-2.2775948085229505) + CAST(embedding[35] AS DOUBLE) * (-0.79017412740223) + CAST(embedding[36] AS DOUBLE) * (1.930574431303024) + CAST(embedding[37] AS DOUBLE) * (2.8226402963339505) + CAST(embedding[38] AS DOUBLE) * (-0.3307794847808993) + CAST(embedding[39] AS DOUBLE) * (0.6730651408558647) + CAST(embedding[40] AS DOUBLE) * (0.7095176547927833) + CAST(embedding[41] AS DOUBLE) * (0.28316427614264444) + CAST(embedding[42] AS DOUBLE) * (-1.864358022953004) + CAST(embedding[43] AS DOUBLE) * (0.9718854661777622) + CAST(embedding[44] AS DOUBLE) * (0.24638743285914722) + CAST(embedding[45] AS DOUBLE) * (-0.27244905984874274) + CAST(embedding[46] AS DOUBLE) * (-1.66304355295086) + CAST(embedding[47] AS DOUBLE) * (-0.6709920247726548) + CAST(embedding[48] AS DOUBLE) * (-0.1503908533056657) + CAST(embedding[49] AS DOUBLE) * (-0.28949208451087605) + CAST(embedding[50] AS DOUBLE) * (0.19196836969485986) + CAST(embedding[51] AS DOUBLE) * (-0.4235170800033746) + CAST(embedding[52] AS DOUBLE) * (0.9672949728957527) + CAST(embedding[53] AS DOUBLE) * (0.590253985117911) + CAST(embedding[54] AS DOUBLE) * (-1.1964754181940807) + CAST(embedding[55] AS DOUBLE) * (-0.6452014455967686) + CAST(embedding[56] AS DOUBLE) * (0.38505006237926204) + CAST(embedding[57] AS DOUBLE) * (-0.5943814896782081) + CAST(embedding[58] AS DOUBLE) * (1.3669637123527583) + CAST(embedding[59] AS DOUBLE) * (-0.5807502167189974) + CAST(embedding[60] AS DOUBLE) * (0.20719471705297313) + CAST(embedding[61] AS DOUBLE) * (0.570329499551438) + CAST(embedding[62] AS DOUBLE) * (-1.1785388641264671) + CAST(embedding[63] AS DOUBLE) * (1.2141881064610243) + CAST(embedding[64] AS DOUBLE) * (-0.25129379946410557)) AS d3,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (-0.7560079060022217) + CAST(embedding[2] AS DOUBLE) * (-0.7378716810667721) + CAST(embedding[3] AS DOUBLE) * (-1.742103590024213) + CAST(embedding[4] AS DOUBLE) * (-1.4098247094809109) + CAST(embedding[5] AS DOUBLE) * (1.4606447943546157) + CAST(embedding[6] AS DOUBLE) * (-0.17250578728386445) + CAST(embedding[7] AS DOUBLE) * (-0.3257948499277712) + CAST(embedding[8] AS DOUBLE) * (0.15270946996446674) + CAST(embedding[9] AS DOUBLE) * (0.5350676819345033) + CAST(embedding[10] AS DOUBLE) * (-0.8408099477723523) + CAST(embedding[11] AS DOUBLE) * (-0.25358510438853565) + CAST(embedding[12] AS DOUBLE) * (0.23089693522171328) + CAST(embedding[13] AS DOUBLE) * (0.9723717677086743) + CAST(embedding[14] AS DOUBLE) * (0.21176691849489224) + CAST(embedding[15] AS DOUBLE) * (1.622072076161329) + CAST(embedding[16] AS DOUBLE) * (-0.259737305653496) + CAST(embedding[17] AS DOUBLE) * (-0.3803284367555525) + CAST(embedding[18] AS DOUBLE) * (-1.4364123113950473) + CAST(embedding[19] AS DOUBLE) * (-0.08705007687666258) + CAST(embedding[20] AS DOUBLE) * (0.6015317838054497) + CAST(embedding[21] AS DOUBLE) * (-0.29001595831040544) + CAST(embedding[22] AS DOUBLE) * (-0.2173328068914763) + CAST(embedding[23] AS DOUBLE) * (-1.0226848930297348) + CAST(embedding[24] AS DOUBLE) * (-0.631809466748631) + CAST(embedding[25] AS DOUBLE) * (-0.49060269685145164) + CAST(embedding[26] AS DOUBLE) * (-0.1342081390565126) + CAST(embedding[27] AS DOUBLE) * (1.0316457343628445) + CAST(embedding[28] AS DOUBLE) * (0.46658264248356673) + CAST(embedding[29] AS DOUBLE) * (0.8737551066402791) + CAST(embedding[30] AS DOUBLE) * (1.1348800686150466) + CAST(embedding[31] AS DOUBLE) * (-0.5087715850370743) + CAST(embedding[32] AS DOUBLE) * (1.296037404449276) + CAST(embedding[33] AS DOUBLE) * (0.0018052562936504235) + CAST(embedding[34] AS DOUBLE) * (-1.36565838460654) + CAST(embedding[35] AS DOUBLE) * (-0.6500127193478521) + CAST(embedding[36] AS DOUBLE) * (-0.13071091507238033) + CAST(embedding[37] AS DOUBLE) * (-1.5837538403030738) + CAST(embedding[38] AS DOUBLE) * (2.2628369079538735) + CAST(embedding[39] AS DOUBLE) * (-0.09521879011087905) + CAST(embedding[40] AS DOUBLE) * (0.8124042003523465) + CAST(embedding[41] AS DOUBLE) * (-1.255509101479582) + CAST(embedding[42] AS DOUBLE) * (0.0530108005322944) + CAST(embedding[43] AS DOUBLE) * (0.21182726651582146) + CAST(embedding[44] AS DOUBLE) * (-0.8092799626437538) + CAST(embedding[45] AS DOUBLE) * (0.20626903737753405) + CAST(embedding[46] AS DOUBLE) * (-0.04907170187196181) + CAST(embedding[47] AS DOUBLE) * (0.3258436076148109) + CAST(embedding[48] AS DOUBLE) * (-1.2571816902337878) + CAST(embedding[49] AS DOUBLE) * (0.4688023114122624) + CAST(embedding[50] AS DOUBLE) * (-0.33539208585959696) + CAST(embedding[51] AS DOUBLE) * (-0.9039221037915418) + CAST(embedding[52] AS DOUBLE) * (-2.2507551654725955) + CAST(embedding[53] AS DOUBLE) * (-0.24311613959906464) + CAST(embedding[54] AS DOUBLE) * (-0.4234778923387934) + CAST(embedding[55] AS DOUBLE) * (2.3241261682014445) + CAST(embedding[56] AS DOUBLE) * (-1.2599687399625334) + CAST(embedding[57] AS DOUBLE) * (1.437920339605771) + CAST(embedding[58] AS DOUBLE) * (1.2018382309577607) + CAST(embedding[59] AS DOUBLE) * (0.3616923881852431) + CAST(embedding[60] AS DOUBLE) * (0.19685995196008332) + CAST(embedding[61] AS DOUBLE) * (0.44871021855705817) + CAST(embedding[62] AS DOUBLE) * (-1.5310097755490863) + CAST(embedding[63] AS DOUBLE) * (1.3629990284110212) + CAST(embedding[64] AS DOUBLE) * (-0.37575527691480226)) AS d4,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (-0.7947778644467747) + CAST(embedding[2] AS DOUBLE) * (-0.05852227728787731) + CAST(embedding[3] AS DOUBLE) * (-2.8045415901619384) + CAST(embedding[4] AS DOUBLE) * (-1.3817059570353538) + CAST(embedding[5] AS DOUBLE) * (-1.234285363554774) + CAST(embedding[6] AS DOUBLE) * (-1.6260875570033846) + CAST(embedding[7] AS DOUBLE) * (0.5283780595294192) + CAST(embedding[8] AS DOUBLE) * (1.541627876647064) + CAST(embedding[9] AS DOUBLE) * (-0.04380232236531185) + CAST(embedding[10] AS DOUBLE) * (-0.3808693638733885) + CAST(embedding[11] AS DOUBLE) * (0.26569696955107225) + CAST(embedding[12] AS DOUBLE) * (-0.5628030454699816) + CAST(embedding[13] AS DOUBLE) * (0.07242262333062274) + CAST(embedding[14] AS DOUBLE) * (0.34797569121261673) + CAST(embedding[15] AS DOUBLE) * (-0.28899664155805754) + CAST(embedding[16] AS DOUBLE) * (-0.47273353990752054) + CAST(embedding[17] AS DOUBLE) * (0.008928680217665505) + CAST(embedding[18] AS DOUBLE) * (-0.0013740579127432837) + CAST(embedding[19] AS DOUBLE) * (0.6161441992327087) + CAST(embedding[20] AS DOUBLE) * (-1.5708830259208595) + CAST(embedding[21] AS DOUBLE) * (-1.181197430345938) + CAST(embedding[22] AS DOUBLE) * (-0.5494965129653983) + CAST(embedding[23] AS DOUBLE) * (0.4223235129329929) + CAST(embedding[24] AS DOUBLE) * (-1.3582479165312398) + CAST(embedding[25] AS DOUBLE) * (1.1434705589262233) + CAST(embedding[26] AS DOUBLE) * (1.3711530838883825) + CAST(embedding[27] AS DOUBLE) * (-0.8041058814045516) + CAST(embedding[28] AS DOUBLE) * (1.0518710262188335) + CAST(embedding[29] AS DOUBLE) * (-2.1584687113921723) + CAST(embedding[30] AS DOUBLE) * (-0.1689834391167954) + CAST(embedding[31] AS DOUBLE) * (-1.6827624623764945) + CAST(embedding[32] AS DOUBLE) * (1.004328081148524) + CAST(embedding[33] AS DOUBLE) * (0.7737494782789223) + CAST(embedding[34] AS DOUBLE) * (0.43687846229075655) + CAST(embedding[35] AS DOUBLE) * (-0.658512441565811) + CAST(embedding[36] AS DOUBLE) * (-1.2081362876944632) + CAST(embedding[37] AS DOUBLE) * (0.33760528864078715) + CAST(embedding[38] AS DOUBLE) * (-0.5934512271284091) + CAST(embedding[39] AS DOUBLE) * (0.5951157345614863) + CAST(embedding[40] AS DOUBLE) * (-1.679699071166524) + CAST(embedding[41] AS DOUBLE) * (0.34202596439694716) + CAST(embedding[42] AS DOUBLE) * (0.42926377823421663) + CAST(embedding[43] AS DOUBLE) * (-2.3607228054565166) + CAST(embedding[44] AS DOUBLE) * (-1.3620562678720927) + CAST(embedding[45] AS DOUBLE) * (-0.7983500770069416) + CAST(embedding[46] AS DOUBLE) * (-0.6926084979201165) + CAST(embedding[47] AS DOUBLE) * (-1.8194963117993583) + CAST(embedding[48] AS DOUBLE) * (-0.07854544950212143) + CAST(embedding[49] AS DOUBLE) * (-1.2284275858154199) + CAST(embedding[50] AS DOUBLE) * (-0.17315255289660084) + CAST(embedding[51] AS DOUBLE) * (-1.9322142868596925) + CAST(embedding[52] AS DOUBLE) * (-1.2829044054762906) + CAST(embedding[53] AS DOUBLE) * (0.5952853448404123) + CAST(embedding[54] AS DOUBLE) * (-1.8166389063657566) + CAST(embedding[55] AS DOUBLE) * (-0.13762472518828797) + CAST(embedding[56] AS DOUBLE) * (1.346990270951265) + CAST(embedding[57] AS DOUBLE) * (0.705411932804584) + CAST(embedding[58] AS DOUBLE) * (-1.426605036010627) + CAST(embedding[59] AS DOUBLE) * (2.120494170569089) + CAST(embedding[60] AS DOUBLE) * (-0.6623332053082052) + CAST(embedding[61] AS DOUBLE) * (0.8284020450783798) + CAST(embedding[62] AS DOUBLE) * (0.8562258373216443) + CAST(embedding[63] AS DOUBLE) * (-0.42454557593913733) + CAST(embedding[64] AS DOUBLE) * (0.5281384850286454)) AS d5,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (-2.867178892919951) + CAST(embedding[2] AS DOUBLE) * (-0.014412160718381457) + CAST(embedding[3] AS DOUBLE) * (0.05234612813163368) + CAST(embedding[4] AS DOUBLE) * (-0.4539318170208948) + CAST(embedding[5] AS DOUBLE) * (0.013701766992264827) + CAST(embedding[6] AS DOUBLE) * (0.9606269994654866) + CAST(embedding[7] AS DOUBLE) * (0.8327750862020745) + CAST(embedding[8] AS DOUBLE) * (-0.7328008429279502) + CAST(embedding[9] AS DOUBLE) * (0.6805314377419137) + CAST(embedding[10] AS DOUBLE) * (1.065252544549058) + CAST(embedding[11] AS DOUBLE) * (0.0048729387265171184) + CAST(embedding[12] AS DOUBLE) * (0.2795742562054778) + CAST(embedding[13] AS DOUBLE) * (-2.5594752096923545) + CAST(embedding[14] AS DOUBLE) * (-1.6851241814078173) + CAST(embedding[15] AS DOUBLE) * (0.26466288962501844) + CAST(embedding[16] AS DOUBLE) * (-1.6109355687952482) + CAST(embedding[17] AS DOUBLE) * (0.7376584319939369) + CAST(embedding[18] AS DOUBLE) * (1.051484392930078) + CAST(embedding[19] AS DOUBLE) * (-1.1004340464023763) + CAST(embedding[20] AS DOUBLE) * (-1.279068917041472) + CAST(embedding[21] AS DOUBLE) * (-0.31261795810011056) + CAST(embedding[22] AS DOUBLE) * (0.10877375391194066) + CAST(embedding[23] AS DOUBLE) * (0.7059803345572462) + CAST(embedding[24] AS DOUBLE) * (-0.3447156772701103) + CAST(embedding[25] AS DOUBLE) * (-0.08120720538357118) + CAST(embedding[26] AS DOUBLE) * (-1.1141969123870266) + CAST(embedding[27] AS DOUBLE) * (0.1655998241668755) + CAST(embedding[28] AS DOUBLE) * (-0.8926007260578619) + CAST(embedding[29] AS DOUBLE) * (0.8836023148699121) + CAST(embedding[30] AS DOUBLE) * (0.5801154661864193) + CAST(embedding[31] AS DOUBLE) * (-1.759705839340602) + CAST(embedding[32] AS DOUBLE) * (0.2221101930249379) + CAST(embedding[33] AS DOUBLE) * (-1.2190700721734948) + CAST(embedding[34] AS DOUBLE) * (0.8424955329791077) + CAST(embedding[35] AS DOUBLE) * (-1.1579934780764047) + CAST(embedding[36] AS DOUBLE) * (1.139089755685921) + CAST(embedding[37] AS DOUBLE) * (0.9439159185507873) + CAST(embedding[38] AS DOUBLE) * (1.8304775554308583) + CAST(embedding[39] AS DOUBLE) * (0.20583113624178975) + CAST(embedding[40] AS DOUBLE) * (-0.07499538209307) + CAST(embedding[41] AS DOUBLE) * (1.0925066694797367) + CAST(embedding[42] AS DOUBLE) * (-1.3480225719696288) + CAST(embedding[43] AS DOUBLE) * (-0.16584562030131741) + CAST(embedding[44] AS DOUBLE) * (-0.44313981341190406) + CAST(embedding[45] AS DOUBLE) * (-0.1847504751802749) + CAST(embedding[46] AS DOUBLE) * (-1.7087477710841579) + CAST(embedding[47] AS DOUBLE) * (-1.8059707894328) + CAST(embedding[48] AS DOUBLE) * (-1.835201970038044) + CAST(embedding[49] AS DOUBLE) * (1.339074565462185) + CAST(embedding[50] AS DOUBLE) * (-0.4636362240881753) + CAST(embedding[51] AS DOUBLE) * (0.49650648104102196) + CAST(embedding[52] AS DOUBLE) * (-0.2528953507577495) + CAST(embedding[53] AS DOUBLE) * (-0.36709714971435986) + CAST(embedding[54] AS DOUBLE) * (1.1724477771919464) + CAST(embedding[55] AS DOUBLE) * (-2.446486246367169) + CAST(embedding[56] AS DOUBLE) * (-0.3509582401849051) + CAST(embedding[57] AS DOUBLE) * (-0.9154003343631736) + CAST(embedding[58] AS DOUBLE) * (-1.050769234423314) + CAST(embedding[59] AS DOUBLE) * (-1.7456655979827571) + CAST(embedding[60] AS DOUBLE) * (-1.6657081932238365) + CAST(embedding[61] AS DOUBLE) * (-1.3293466137499275) + CAST(embedding[62] AS DOUBLE) * (0.9605050948599068) + CAST(embedding[63] AS DOUBLE) * (-0.8203851403567584) + CAST(embedding[64] AS DOUBLE) * (-0.5972739542453126)) AS d6,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (-0.3065241704037289) + CAST(embedding[2] AS DOUBLE) * (0.4896361685534745) + CAST(embedding[3] AS DOUBLE) * (0.902841462015473) + CAST(embedding[4] AS DOUBLE) * (0.06196851579279813) + CAST(embedding[5] AS DOUBLE) * (-0.1277036103461595) + CAST(embedding[6] AS DOUBLE) * (0.3912936543923712) + CAST(embedding[7] AS DOUBLE) * (-0.9258198733492586) + CAST(embedding[8] AS DOUBLE) * (0.08470690411887269) + CAST(embedding[9] AS DOUBLE) * (1.5566867966361193) + CAST(embedding[10] AS DOUBLE) * (-0.7808313528887589) + CAST(embedding[11] AS DOUBLE) * (-0.9854699391548791) + CAST(embedding[12] AS DOUBLE) * (-1.6683336560385666) + CAST(embedding[13] AS DOUBLE) * (-0.07676378939745575) + CAST(embedding[14] AS DOUBLE) * (0.49125802572320415) + CAST(embedding[15] AS DOUBLE) * (-0.5544581959512096) + CAST(embedding[16] AS DOUBLE) * (-0.45690176428784984) + CAST(embedding[17] AS DOUBLE) * (1.0473897506741645) + CAST(embedding[18] AS DOUBLE) * (-0.09867944161778038) + CAST(embedding[19] AS DOUBLE) * (0.5668522899972447) + CAST(embedding[20] AS DOUBLE) * (-0.4926806964875525) + CAST(embedding[21] AS DOUBLE) * (1.1678215007051747) + CAST(embedding[22] AS DOUBLE) * (0.7800953667303611) + CAST(embedding[23] AS DOUBLE) * (-0.27005431883325964) + CAST(embedding[24] AS DOUBLE) * (-0.7201201782050053) + CAST(embedding[25] AS DOUBLE) * (2.4101526094836845) + CAST(embedding[26] AS DOUBLE) * (-1.1938702258857508) + CAST(embedding[27] AS DOUBLE) * (-1.0837671518955354) + CAST(embedding[28] AS DOUBLE) * (-2.605430611221645) + CAST(embedding[29] AS DOUBLE) * (0.5631159272889905) + CAST(embedding[30] AS DOUBLE) * (-0.05979369278736619) + CAST(embedding[31] AS DOUBLE) * (-0.20377928571933876) + CAST(embedding[32] AS DOUBLE) * (-1.642884187312021) + CAST(embedding[33] AS DOUBLE) * (-0.10347895122531219) + CAST(embedding[34] AS DOUBLE) * (-0.9049566453366972) + CAST(embedding[35] AS DOUBLE) * (-1.2828102907396286) + CAST(embedding[36] AS DOUBLE) * (-0.3580340226410346) + CAST(embedding[37] AS DOUBLE) * (0.19100384998267478) + CAST(embedding[38] AS DOUBLE) * (-0.2630523883776923) + CAST(embedding[39] AS DOUBLE) * (-0.615741925059664) + CAST(embedding[40] AS DOUBLE) * (0.614134732768068) + CAST(embedding[41] AS DOUBLE) * (0.1285628495320423) + CAST(embedding[42] AS DOUBLE) * (-0.48111949365043144) + CAST(embedding[43] AS DOUBLE) * (0.4585404724321882) + CAST(embedding[44] AS DOUBLE) * (0.1872047376906648) + CAST(embedding[45] AS DOUBLE) * (0.797192492326439) + CAST(embedding[46] AS DOUBLE) * (0.7120455700242393) + CAST(embedding[47] AS DOUBLE) * (0.6225385345312664) + CAST(embedding[48] AS DOUBLE) * (-0.6999147038257569) + CAST(embedding[49] AS DOUBLE) * (1.1982937931859536) + CAST(embedding[50] AS DOUBLE) * (0.8838890781065778) + CAST(embedding[51] AS DOUBLE) * (-0.6459344655986408) + CAST(embedding[52] AS DOUBLE) * (1.1296765027760798) + CAST(embedding[53] AS DOUBLE) * (-0.01645034361594869) + CAST(embedding[54] AS DOUBLE) * (-1.1031497528717316) + CAST(embedding[55] AS DOUBLE) * (-0.14576797065044073) + CAST(embedding[56] AS DOUBLE) * (-1.3826115321466308) + CAST(embedding[57] AS DOUBLE) * (1.0117615755188765) + CAST(embedding[58] AS DOUBLE) * (-1.3602385683642157) + CAST(embedding[59] AS DOUBLE) * (1.3472380540651037) + CAST(embedding[60] AS DOUBLE) * (-0.9633846161181444) + CAST(embedding[61] AS DOUBLE) * (-0.2383014785117158) + CAST(embedding[62] AS DOUBLE) * (1.1610250601941312) + CAST(embedding[63] AS DOUBLE) * (0.24445652009324711) + CAST(embedding[64] AS DOUBLE) * (-1.7353167618425036)) AS d7,
         (0.0 + CAST(embedding[1] AS DOUBLE)*CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE)*CAST(embedding[2] AS DOUBLE) + CAST(embedding[3] AS DOUBLE)*CAST(embedding[3] AS DOUBLE) + CAST(embedding[4] AS DOUBLE)*CAST(embedding[4] AS DOUBLE) + CAST(embedding[5] AS DOUBLE)*CAST(embedding[5] AS DOUBLE) + CAST(embedding[6] AS DOUBLE)*CAST(embedding[6] AS DOUBLE) + CAST(embedding[7] AS DOUBLE)*CAST(embedding[7] AS DOUBLE) + CAST(embedding[8] AS DOUBLE)*CAST(embedding[8] AS DOUBLE) + CAST(embedding[9] AS DOUBLE)*CAST(embedding[9] AS DOUBLE) + CAST(embedding[10] AS DOUBLE)*CAST(embedding[10] AS DOUBLE) + CAST(embedding[11] AS DOUBLE)*CAST(embedding[11] AS DOUBLE) + CAST(embedding[12] AS DOUBLE)*CAST(embedding[12] AS DOUBLE) + CAST(embedding[13] AS DOUBLE)*CAST(embedding[13] AS DOUBLE) + CAST(embedding[14] AS DOUBLE)*CAST(embedding[14] AS DOUBLE) + CAST(embedding[15] AS DOUBLE)*CAST(embedding[15] AS DOUBLE) + CAST(embedding[16] AS DOUBLE)*CAST(embedding[16] AS DOUBLE) + CAST(embedding[17] AS DOUBLE)*CAST(embedding[17] AS DOUBLE) + CAST(embedding[18] AS DOUBLE)*CAST(embedding[18] AS DOUBLE) + CAST(embedding[19] AS DOUBLE)*CAST(embedding[19] AS DOUBLE) + CAST(embedding[20] AS DOUBLE)*CAST(embedding[20] AS DOUBLE) + CAST(embedding[21] AS DOUBLE)*CAST(embedding[21] AS DOUBLE) + CAST(embedding[22] AS DOUBLE)*CAST(embedding[22] AS DOUBLE) + CAST(embedding[23] AS DOUBLE)*CAST(embedding[23] AS DOUBLE) + CAST(embedding[24] AS DOUBLE)*CAST(embedding[24] AS DOUBLE) + CAST(embedding[25] AS DOUBLE)*CAST(embedding[25] AS DOUBLE) + CAST(embedding[26] AS DOUBLE)*CAST(embedding[26] AS DOUBLE) + CAST(embedding[27] AS DOUBLE)*CAST(embedding[27] AS DOUBLE) + CAST(embedding[28] AS DOUBLE)*CAST(embedding[28] AS DOUBLE) + CAST(embedding[29] AS DOUBLE)*CAST(embedding[29] AS DOUBLE) + CAST(embedding[30] AS DOUBLE)*CAST(embedding[30] AS DOUBLE) + CAST(embedding[31] AS DOUBLE)*CAST(embedding[31] AS DOUBLE) + CAST(embedding[32] AS DOUBLE)*CAST(embedding[32] AS DOUBLE) + CAST(embedding[33] AS DOUBLE)*CAST(embedding[33] AS DOUBLE) + CAST(embedding[34] AS DOUBLE)*CAST(embedding[34] AS DOUBLE) + CAST(embedding[35] AS DOUBLE)*CAST(embedding[35] AS DOUBLE) + CAST(embedding[36] AS DOUBLE)*CAST(embedding[36] AS DOUBLE) + CAST(embedding[37] AS DOUBLE)*CAST(embedding[37] AS DOUBLE) + CAST(embedding[38] AS DOUBLE)*CAST(embedding[38] AS DOUBLE) + CAST(embedding[39] AS DOUBLE)*CAST(embedding[39] AS DOUBLE) + CAST(embedding[40] AS DOUBLE)*CAST(embedding[40] AS DOUBLE) + CAST(embedding[41] AS DOUBLE)*CAST(embedding[41] AS DOUBLE) + CAST(embedding[42] AS DOUBLE)*CAST(embedding[42] AS DOUBLE) + CAST(embedding[43] AS DOUBLE)*CAST(embedding[43] AS DOUBLE) + CAST(embedding[44] AS DOUBLE)*CAST(embedding[44] AS DOUBLE) + CAST(embedding[45] AS DOUBLE)*CAST(embedding[45] AS DOUBLE) + CAST(embedding[46] AS DOUBLE)*CAST(embedding[46] AS DOUBLE) + CAST(embedding[47] AS DOUBLE)*CAST(embedding[47] AS DOUBLE) + CAST(embedding[48] AS DOUBLE)*CAST(embedding[48] AS DOUBLE) + CAST(embedding[49] AS DOUBLE)*CAST(embedding[49] AS DOUBLE) + CAST(embedding[50] AS DOUBLE)*CAST(embedding[50] AS DOUBLE) + CAST(embedding[51] AS DOUBLE)*CAST(embedding[51] AS DOUBLE) + CAST(embedding[52] AS DOUBLE)*CAST(embedding[52] AS DOUBLE) + CAST(embedding[53] AS DOUBLE)*CAST(embedding[53] AS DOUBLE) + CAST(embedding[54] AS DOUBLE)*CAST(embedding[54] AS DOUBLE) + CAST(embedding[55] AS DOUBLE)*CAST(embedding[55] AS DOUBLE) + CAST(embedding[56] AS DOUBLE)*CAST(embedding[56] AS DOUBLE) + CAST(embedding[57] AS DOUBLE)*CAST(embedding[57] AS DOUBLE) + CAST(embedding[58] AS DOUBLE)*CAST(embedding[58] AS DOUBLE) + CAST(embedding[59] AS DOUBLE)*CAST(embedding[59] AS DOUBLE) + CAST(embedding[60] AS DOUBLE)*CAST(embedding[60] AS DOUBLE) + CAST(embedding[61] AS DOUBLE)*CAST(embedding[61] AS DOUBLE) + CAST(embedding[62] AS DOUBLE)*CAST(embedding[62] AS DOUBLE) + CAST(embedding[63] AS DOUBLE)*CAST(embedding[63] AS DOUBLE) + CAST(embedding[64] AS DOUBLE)*CAST(embedding[64] AS DOUBLE)) AS nrm2
  FROM embeddings),
c AS (
  SELECT vec_id AS neighbor_id, embedding AS c_vec, sqrt(nrm2) AS c_norm,
         CASE WHEN d0 >= d1 AND d0 >= d2 AND d0 >= d3 AND d0 >= d4 AND d0 >= d5 AND d0 >= d6 AND d0 >= d7 THEN 0 WHEN d1 >= d0 AND d1 >= d2 AND d1 >= d3 AND d1 >= d4 AND d1 >= d5 AND d1 >= d6 AND d1 >= d7 THEN 1 WHEN d2 >= d0 AND d2 >= d1 AND d2 >= d3 AND d2 >= d4 AND d2 >= d5 AND d2 >= d6 AND d2 >= d7 THEN 2 WHEN d3 >= d0 AND d3 >= d1 AND d3 >= d2 AND d3 >= d4 AND d3 >= d5 AND d3 >= d6 AND d3 >= d7 THEN 3 WHEN d4 >= d0 AND d4 >= d1 AND d4 >= d2 AND d4 >= d3 AND d4 >= d5 AND d4 >= d6 AND d4 >= d7 THEN 4 WHEN d5 >= d0 AND d5 >= d1 AND d5 >= d2 AND d5 >= d3 AND d5 >= d4 AND d5 >= d6 AND d5 >= d7 THEN 5 WHEN d6 >= d0 AND d6 >= d1 AND d6 >= d2 AND d6 >= d3 AND d6 >= d4 AND d6 >= d5 AND d6 >= d7 THEN 6 ELSE 7 END AS list_id
  FROM base),
qd AS (SELECT * FROM base WHERE vec_id < 10),
qs AS (
  SELECT vec_id AS q_id, embedding AS q_vec, sqrt(nrm2) AS q_norm,
         i AS list_id, CASE i WHEN 0 THEN d0 WHEN 1 THEN d1 WHEN 2 THEN d2 WHEN 3 THEN d3 WHEN 4 THEN d4 WHEN 5 THEN d5 WHEN 6 THEN d6 WHEN 7 THEN d7 END AS cd
  FROM qd CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS i)),
probes AS (
  SELECT q_id, q_vec, q_norm, list_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cd DESC, list_id) AS pr FROM qs)
  WHERE pr <= 2),
scored AS (
  SELECT q_id, neighbor_id,
         (0.0 + CAST(q_vec[1] AS DOUBLE)*CAST(c_vec[1] AS DOUBLE) + CAST(q_vec[2] AS DOUBLE)*CAST(c_vec[2] AS DOUBLE) + CAST(q_vec[3] AS DOUBLE)*CAST(c_vec[3] AS DOUBLE) + CAST(q_vec[4] AS DOUBLE)*CAST(c_vec[4] AS DOUBLE) + CAST(q_vec[5] AS DOUBLE)*CAST(c_vec[5] AS DOUBLE) + CAST(q_vec[6] AS DOUBLE)*CAST(c_vec[6] AS DOUBLE) + CAST(q_vec[7] AS DOUBLE)*CAST(c_vec[7] AS DOUBLE) + CAST(q_vec[8] AS DOUBLE)*CAST(c_vec[8] AS DOUBLE) + CAST(q_vec[9] AS DOUBLE)*CAST(c_vec[9] AS DOUBLE) + CAST(q_vec[10] AS DOUBLE)*CAST(c_vec[10] AS DOUBLE) + CAST(q_vec[11] AS DOUBLE)*CAST(c_vec[11] AS DOUBLE) + CAST(q_vec[12] AS DOUBLE)*CAST(c_vec[12] AS DOUBLE) + CAST(q_vec[13] AS DOUBLE)*CAST(c_vec[13] AS DOUBLE) + CAST(q_vec[14] AS DOUBLE)*CAST(c_vec[14] AS DOUBLE) + CAST(q_vec[15] AS DOUBLE)*CAST(c_vec[15] AS DOUBLE) + CAST(q_vec[16] AS DOUBLE)*CAST(c_vec[16] AS DOUBLE) + CAST(q_vec[17] AS DOUBLE)*CAST(c_vec[17] AS DOUBLE) + CAST(q_vec[18] AS DOUBLE)*CAST(c_vec[18] AS DOUBLE) + CAST(q_vec[19] AS DOUBLE)*CAST(c_vec[19] AS DOUBLE) + CAST(q_vec[20] AS DOUBLE)*CAST(c_vec[20] AS DOUBLE) + CAST(q_vec[21] AS DOUBLE)*CAST(c_vec[21] AS DOUBLE) + CAST(q_vec[22] AS DOUBLE)*CAST(c_vec[22] AS DOUBLE) + CAST(q_vec[23] AS DOUBLE)*CAST(c_vec[23] AS DOUBLE) + CAST(q_vec[24] AS DOUBLE)*CAST(c_vec[24] AS DOUBLE) + CAST(q_vec[25] AS DOUBLE)*CAST(c_vec[25] AS DOUBLE) + CAST(q_vec[26] AS DOUBLE)*CAST(c_vec[26] AS DOUBLE) + CAST(q_vec[27] AS DOUBLE)*CAST(c_vec[27] AS DOUBLE) + CAST(q_vec[28] AS DOUBLE)*CAST(c_vec[28] AS DOUBLE) + CAST(q_vec[29] AS DOUBLE)*CAST(c_vec[29] AS DOUBLE) + CAST(q_vec[30] AS DOUBLE)*CAST(c_vec[30] AS DOUBLE) + CAST(q_vec[31] AS DOUBLE)*CAST(c_vec[31] AS DOUBLE) + CAST(q_vec[32] AS DOUBLE)*CAST(c_vec[32] AS DOUBLE) + CAST(q_vec[33] AS DOUBLE)*CAST(c_vec[33] AS DOUBLE) + CAST(q_vec[34] AS DOUBLE)*CAST(c_vec[34] AS DOUBLE) + CAST(q_vec[35] AS DOUBLE)*CAST(c_vec[35] AS DOUBLE) + CAST(q_vec[36] AS DOUBLE)*CAST(c_vec[36] AS DOUBLE) + CAST(q_vec[37] AS DOUBLE)*CAST(c_vec[37] AS DOUBLE) + CAST(q_vec[38] AS DOUBLE)*CAST(c_vec[38] AS DOUBLE) + CAST(q_vec[39] AS DOUBLE)*CAST(c_vec[39] AS DOUBLE) + CAST(q_vec[40] AS DOUBLE)*CAST(c_vec[40] AS DOUBLE) + CAST(q_vec[41] AS DOUBLE)*CAST(c_vec[41] AS DOUBLE) + CAST(q_vec[42] AS DOUBLE)*CAST(c_vec[42] AS DOUBLE) + CAST(q_vec[43] AS DOUBLE)*CAST(c_vec[43] AS DOUBLE) + CAST(q_vec[44] AS DOUBLE)*CAST(c_vec[44] AS DOUBLE) + CAST(q_vec[45] AS DOUBLE)*CAST(c_vec[45] AS DOUBLE) + CAST(q_vec[46] AS DOUBLE)*CAST(c_vec[46] AS DOUBLE) + CAST(q_vec[47] AS DOUBLE)*CAST(c_vec[47] AS DOUBLE) + CAST(q_vec[48] AS DOUBLE)*CAST(c_vec[48] AS DOUBLE) + CAST(q_vec[49] AS DOUBLE)*CAST(c_vec[49] AS DOUBLE) + CAST(q_vec[50] AS DOUBLE)*CAST(c_vec[50] AS DOUBLE) + CAST(q_vec[51] AS DOUBLE)*CAST(c_vec[51] AS DOUBLE) + CAST(q_vec[52] AS DOUBLE)*CAST(c_vec[52] AS DOUBLE) + CAST(q_vec[53] AS DOUBLE)*CAST(c_vec[53] AS DOUBLE) + CAST(q_vec[54] AS DOUBLE)*CAST(c_vec[54] AS DOUBLE) + CAST(q_vec[55] AS DOUBLE)*CAST(c_vec[55] AS DOUBLE) + CAST(q_vec[56] AS DOUBLE)*CAST(c_vec[56] AS DOUBLE) + CAST(q_vec[57] AS DOUBLE)*CAST(c_vec[57] AS DOUBLE) + CAST(q_vec[58] AS DOUBLE)*CAST(c_vec[58] AS DOUBLE) + CAST(q_vec[59] AS DOUBLE)*CAST(c_vec[59] AS DOUBLE) + CAST(q_vec[60] AS DOUBLE)*CAST(c_vec[60] AS DOUBLE) + CAST(q_vec[61] AS DOUBLE)*CAST(c_vec[61] AS DOUBLE) + CAST(q_vec[62] AS DOUBLE)*CAST(c_vec[62] AS DOUBLE) + CAST(q_vec[63] AS DOUBLE)*CAST(c_vec[63] AS DOUBLE) + CAST(q_vec[64] AS DOUBLE)*CAST(c_vec[64] AS DOUBLE)) / (q_norm * c_norm) AS cos_sim
  FROM probes JOIN c USING (list_id)
  WHERE q_id <> neighbor_id),
r AS (
  SELECT q_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS "rank"
  FROM scored)
SELECT q_id, neighbor_id, cos_sim, "rank" FROM r WHERE "rank" <= 5

      ) a ON a.q_id = e.q_id AND a.neighbor_id = e.neighbor_id) nh
UNION ALL
SELECT CAST(4 AS BIGINT) AS nprobe,
       ne.n_exact,
       CAST(COALESCE(nh.n_hits, 0) AS BIGINT) AS n_hits,
       CAST((1000000 * COALESCE(nh.n_hits, 0)) // ne.n_exact AS BIGINT)
         AS recall_ppm,
       CAST(CAST((1000000 * COALESCE(nh.n_hits, 0)) // ne.n_exact AS BIGINT)
            AS DOUBLE) / 1000000.0 AS mean_recall_at_5
FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact) ne,
     (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM exact e SEMI JOIN (
        
WITH base AS (
  SELECT vec_id, embedding,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (2.1699867207380645) + CAST(embedding[2] AS DOUBLE) * (-1.1079786469680795) + CAST(embedding[3] AS DOUBLE) * (0.32589852902934197) + CAST(embedding[4] AS DOUBLE) * (-0.2613181260001577) + CAST(embedding[5] AS DOUBLE) * (-0.8792737317600035) + CAST(embedding[6] AS DOUBLE) * (-0.5738432527438687) + CAST(embedding[7] AS DOUBLE) * (-0.5189988677338094) + CAST(embedding[8] AS DOUBLE) * (-0.09930180207886077) + CAST(embedding[9] AS DOUBLE) * (0.3865300173736704) + CAST(embedding[10] AS DOUBLE) * (1.0132288958817026) + CAST(embedding[11] AS DOUBLE) * (0.1993937448867829) + CAST(embedding[12] AS DOUBLE) * (1.083652184372391) + CAST(embedding[13] AS DOUBLE) * (0.41838593160240717) + CAST(embedding[14] AS DOUBLE) * (0.06563800441896446) + CAST(embedding[15] AS DOUBLE) * (-0.2600355441139246) + CAST(embedding[16] AS DOUBLE) * (-1.0129882532193426) + CAST(embedding[17] AS DOUBLE) * (-1.6227835267832889) + CAST(embedding[18] AS DOUBLE) * (-0.12908990923609442) + CAST(embedding[19] AS DOUBLE) * (-0.21779878046596632) + CAST(embedding[20] AS DOUBLE) * (0.26667982053102357) + CAST(embedding[21] AS DOUBLE) * (0.27541138031975404) + CAST(embedding[22] AS DOUBLE) * (-1.3050186513030222) + CAST(embedding[23] AS DOUBLE) * (-0.7617561033214943) + CAST(embedding[24] AS DOUBLE) * (-1.1662421256928086) + CAST(embedding[25] AS DOUBLE) * (0.9333744438300192) + CAST(embedding[26] AS DOUBLE) * (-0.17358590709943209) + CAST(embedding[27] AS DOUBLE) * (0.058939725195320716) + CAST(embedding[28] AS DOUBLE) * (-0.9572998593896521) + CAST(embedding[29] AS DOUBLE) * (-1.3218914690449026) + CAST(embedding[30] AS DOUBLE) * (-0.6429267245125667) + CAST(embedding[31] AS DOUBLE) * (-0.16666669030021375) + CAST(embedding[32] AS DOUBLE) * (0.38922269236616275) + CAST(embedding[33] AS DOUBLE) * (-1.5698649077430762) + CAST(embedding[34] AS DOUBLE) * (0.2580906391925216) + CAST(embedding[35] AS DOUBLE) * (-0.9174271914240806) + CAST(embedding[36] AS DOUBLE) * (-0.5871590042364816) + CAST(embedding[37] AS DOUBLE) * (-0.3967328554866439) + CAST(embedding[38] AS DOUBLE) * (-0.4944293277464607) + CAST(embedding[39] AS DOUBLE) * (0.3836936908556341) + CAST(embedding[40] AS DOUBLE) * (0.7963452140503653) + CAST(embedding[41] AS DOUBLE) * (0.2653578014361696) + CAST(embedding[42] AS DOUBLE) * (-0.6040877453680568) + CAST(embedding[43] AS DOUBLE) * (0.34311174030663366) + CAST(embedding[44] AS DOUBLE) * (0.2998265924250336) + CAST(embedding[45] AS DOUBLE) * (0.7790426349105024) + CAST(embedding[46] AS DOUBLE) * (0.19446738261662008) + CAST(embedding[47] AS DOUBLE) * (-1.6632085503210128) + CAST(embedding[48] AS DOUBLE) * (-0.8189728069149812) + CAST(embedding[49] AS DOUBLE) * (-0.46707926266240857) + CAST(embedding[50] AS DOUBLE) * (0.8395293649822554) + CAST(embedding[51] AS DOUBLE) * (-0.20417990201901623) + CAST(embedding[52] AS DOUBLE) * (0.8278803215597093) + CAST(embedding[53] AS DOUBLE) * (0.2176122939560562) + CAST(embedding[54] AS DOUBLE) * (-1.2430574445381901) + CAST(embedding[55] AS DOUBLE) * (-0.025168925059448097) + CAST(embedding[56] AS DOUBLE) * (0.47538289273474205) + CAST(embedding[57] AS DOUBLE) * (0.3304218683244367) + CAST(embedding[58] AS DOUBLE) * (-1.5319811285805112) + CAST(embedding[59] AS DOUBLE) * (0.34938270914619535) + CAST(embedding[60] AS DOUBLE) * (-0.6493215352430751) + CAST(embedding[61] AS DOUBLE) * (-2.1497412615528795) + CAST(embedding[62] AS DOUBLE) * (-0.6315801328620507) + CAST(embedding[63] AS DOUBLE) * (-2.014360452151887) + CAST(embedding[64] AS DOUBLE) * (-1.3267366695720195)) AS d0,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (1.3493736079095395) + CAST(embedding[2] AS DOUBLE) * (2.3574281217314046) + CAST(embedding[3] AS DOUBLE) * (0.974146861617726) + CAST(embedding[4] AS DOUBLE) * (0.357087420914038) + CAST(embedding[5] AS DOUBLE) * (1.8016409257375818) + CAST(embedding[6] AS DOUBLE) * (0.26638405191451425) + CAST(embedding[7] AS DOUBLE) * (-1.0370842279937875) + CAST(embedding[8] AS DOUBLE) * (-2.4906909937084873) + CAST(embedding[9] AS DOUBLE) * (0.8254096438714261) + CAST(embedding[10] AS DOUBLE) * (-2.2943036014164484) + CAST(embedding[11] AS DOUBLE) * (-2.8931104935975456) + CAST(embedding[12] AS DOUBLE) * (-0.7156833317563337) + CAST(embedding[13] AS DOUBLE) * (-0.005708669074363964) + CAST(embedding[14] AS DOUBLE) * (-0.9217913295819) + CAST(embedding[15] AS DOUBLE) * (0.9602720655965147) + CAST(embedding[16] AS DOUBLE) * (-0.1558601247108059) + CAST(embedding[17] AS DOUBLE) * (0.1385213470528602) + CAST(embedding[18] AS DOUBLE) * (0.37233344158813425) + CAST(embedding[19] AS DOUBLE) * (-0.6466728025715587) + CAST(embedding[20] AS DOUBLE) * (0.14046778335765708) + CAST(embedding[21] AS DOUBLE) * (2.241058348597844) + CAST(embedding[22] AS DOUBLE) * (-0.9936560252826314) + CAST(embedding[23] AS DOUBLE) * (0.09924581890662353) + CAST(embedding[24] AS DOUBLE) * (0.45680624649786206) + CAST(embedding[25] AS DOUBLE) * (-0.5997515566709185) + CAST(embedding[26] AS DOUBLE) * (-0.11039093342551126) + CAST(embedding[27] AS DOUBLE) * (-1.7623232504526851) + CAST(embedding[28] AS DOUBLE) * (-0.4958115189101038) + CAST(embedding[29] AS DOUBLE) * (-0.0201379494688227) + CAST(embedding[30] AS DOUBLE) * (1.0464692871649537) + CAST(embedding[31] AS DOUBLE) * (0.8809726108343329) + CAST(embedding[32] AS DOUBLE) * (-0.6327352439223559) + CAST(embedding[33] AS DOUBLE) * (-1.1621814459462878) + CAST(embedding[34] AS DOUBLE) * (1.7625781817792587) + CAST(embedding[35] AS DOUBLE) * (0.8282498279041635) + CAST(embedding[36] AS DOUBLE) * (-1.9557748532393313) + CAST(embedding[37] AS DOUBLE) * (-0.3933080562650607) + CAST(embedding[38] AS DOUBLE) * (-0.9536681309415094) + CAST(embedding[39] AS DOUBLE) * (-0.6594392644762228) + CAST(embedding[40] AS DOUBLE) * (-1.7626492943072107) + CAST(embedding[41] AS DOUBLE) * (-0.472197460916041) + CAST(embedding[42] AS DOUBLE) * (-0.5672394944152519) + CAST(embedding[43] AS DOUBLE) * (-0.2879880583495375) + CAST(embedding[44] AS DOUBLE) * (0.9854077784688751) + CAST(embedding[45] AS DOUBLE) * (0.17319721429439905) + CAST(embedding[46] AS DOUBLE) * (-1.2644298905718279) + CAST(embedding[47] AS DOUBLE) * (-1.7804125913447617) + CAST(embedding[48] AS DOUBLE) * (-0.577718169360636) + CAST(embedding[49] AS DOUBLE) * (1.0971025606641962) + CAST(embedding[50] AS DOUBLE) * (0.8897058942385211) + CAST(embedding[51] AS DOUBLE) * (-0.6343255841530552) + CAST(embedding[52] AS DOUBLE) * (1.1120537078981618) + CAST(embedding[53] AS DOUBLE) * (0.38607355508082786) + CAST(embedding[54] AS DOUBLE) * (-0.6495553124107992) + CAST(embedding[55] AS DOUBLE) * (0.38593414967709216) + CAST(embedding[56] AS DOUBLE) * (-0.12134036219142272) + CAST(embedding[57] AS DOUBLE) * (-1.1557145875624628) + CAST(embedding[58] AS DOUBLE) * (-0.47464504737753843) + CAST(embedding[59] AS DOUBLE) * (0.12008435874037364) + CAST(embedding[60] AS DOUBLE) * (1.2772627323647865) + CAST(embedding[61] AS DOUBLE) * (-1.0743630492761616) + CAST(embedding[62] AS DOUBLE) * (0.19986415492529624) + CAST(embedding[63] AS DOUBLE) * (-0.017542016902101762) + CAST(embedding[64] AS DOUBLE) * (-0.08713110155989824)) AS d1,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (-1.2577899221671323) + CAST(embedding[2] AS DOUBLE) * (1.2238452093167131) + CAST(embedding[3] AS DOUBLE) * (1.263096024693588) + CAST(embedding[4] AS DOUBLE) * (1.5637409056484606) + CAST(embedding[5] AS DOUBLE) * (0.4346549890366623) + CAST(embedding[6] AS DOUBLE) * (1.4481024662776967) + CAST(embedding[7] AS DOUBLE) * (0.507100012249707) + CAST(embedding[8] AS DOUBLE) * (0.9675054979514186) + CAST(embedding[9] AS DOUBLE) * (-0.3651744157515609) + CAST(embedding[10] AS DOUBLE) * (0.19320234038107062) + CAST(embedding[11] AS DOUBLE) * (-0.3561747033097989) + CAST(embedding[12] AS DOUBLE) * (-1.0870443640097944) + CAST(embedding[13] AS DOUBLE) * (-0.465399551284373) + CAST(embedding[14] AS DOUBLE) * (-1.1544247120052649) + CAST(embedding[15] AS DOUBLE) * (-1.1476073231678856) + CAST(embedding[16] AS DOUBLE) * (-0.42027133190649063) + CAST(embedding[17] AS DOUBLE) * (-0.6330853856097824) + CAST(embedding[18] AS DOUBLE) * (2.0444062851033893) + CAST(embedding[19] AS DOUBLE) * (1.7516585550837993) + CAST(embedding[20] AS DOUBLE) * (1.056693813220963) + CAST(embedding[21] AS DOUBLE) * (0.7676403805488081) + CAST(embedding[22] AS DOUBLE) * (-0.8878444326095933) + CAST(embedding[23] AS DOUBLE) * (0.25208493059671166) + CAST(embedding[24] AS DOUBLE) * (-1.4745464839005809) + CAST(embedding[25] AS DOUBLE) * (-0.6559112954973413) + CAST(embedding[26] AS DOUBLE) * (-0.5092626329019135) + CAST(embedding[27] AS DOUBLE) * (-0.3929214550556583) + CAST(embedding[28] AS DOUBLE) * (0.8398049213708733) + CAST(embedding[29] AS DOUBLE) * (-0.8159739708198376) + CAST(embedding[30] AS DOUBLE) * (2.399401534052994) + CAST(embedding[31] AS DOUBLE) * (-0.537288680108295) + CAST(embedding[32] AS DOUBLE) * (0.8318037860239111) + CAST(embedding[33] AS DOUBLE) * (-1.6112314486636563) + CAST(embedding[34] AS DOUBLE) * (0.8915986994252159) + CAST(embedding[35] AS DOUBLE) * (-1.2579555057468832) + CAST(embedding[36] AS DOUBLE) * (0.17694713662863804) + CAST(embedding[37] AS DOUBLE) * (-0.027799675848140755) + CAST(embedding[38] AS DOUBLE) * (0.806772028799457) + CAST(embedding[39] AS DOUBLE) * (0.5931122307963466) + CAST(embedding[40] AS DOUBLE) * (0.3716502220952085) + CAST(embedding[41] AS DOUBLE) * (-0.17044108877256595) + CAST(embedding[42] AS DOUBLE) * (1.9482546830194398) + CAST(embedding[43] AS DOUBLE) * (-0.4836175932225871) + CAST(embedding[44] AS DOUBLE) * (-0.0075057864212346405) + CAST(embedding[45] AS DOUBLE) * (-0.49385748676794844) + CAST(embedding[46] AS DOUBLE) * (0.11783361787735049) + CAST(embedding[47] AS DOUBLE) * (-0.9887567934156685) + CAST(embedding[48] AS DOUBLE) * (-0.4354688770225977) + CAST(embedding[49] AS DOUBLE) * (0.48738439368472414) + CAST(embedding[50] AS DOUBLE) * (-0.602248233707375) + CAST(embedding[51] AS DOUBLE) * (0.4466700731791106) + CAST(embedding[52] AS DOUBLE) * (-0.6078380273189347) + CAST(embedding[53] AS DOUBLE) * (1.4097234509113148) + CAST(embedding[54] AS DOUBLE) * (-0.1546127976471008) + CAST(embedding[55] AS DOUBLE) * (1.749526258188258) + CAST(embedding[56] AS DOUBLE) * (0.4807392105214751) + CAST(embedding[57] AS DOUBLE) * (-0.15217871610095032) + CAST(embedding[58] AS DOUBLE) * (0.9361867677371898) + CAST(embedding[59] AS DOUBLE) * (1.1532396953425783) + CAST(embedding[60] AS DOUBLE) * (1.5176908046780375) + CAST(embedding[61] AS DOUBLE) * (1.3803800500086394) + CAST(embedding[62] AS DOUBLE) * (0.8805727241350567) + CAST(embedding[63] AS DOUBLE) * (-1.1960999758221535) + CAST(embedding[64] AS DOUBLE) * (0.9190929105729782)) AS d2,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (-0.10792485825603078) + CAST(embedding[2] AS DOUBLE) * (0.3890662859329336) + CAST(embedding[3] AS DOUBLE) * (1.25611361970282) + CAST(embedding[4] AS DOUBLE) * (-0.7410543634213287) + CAST(embedding[5] AS DOUBLE) * (1.3219520960862796) + CAST(embedding[6] AS DOUBLE) * (2.393301535353535) + CAST(embedding[7] AS DOUBLE) * (0.5400220323247202) + CAST(embedding[8] AS DOUBLE) * (-0.3341185904146626) + CAST(embedding[9] AS DOUBLE) * (1.3642857310773209) + CAST(embedding[10] AS DOUBLE) * (0.16451609607500065) + CAST(embedding[11] AS DOUBLE) * (1.040910589547841) + CAST(embedding[12] AS DOUBLE) * (1.2446772140820774) + CAST(embedding[13] AS DOUBLE) * (-1.541449720077563) + CAST(embedding[14] AS DOUBLE) * (0.30534870637785144) + CAST(embedding[15] AS DOUBLE) * (-1.5538648135614217) + CAST(embedding[16] AS DOUBLE) * (-0.7287070272880077) + CAST(embedding[17] AS DOUBLE) * (0.5912253194840534) + CAST(embedding[18] AS DOUBLE) * (-1.223766592640582) + CAST(embedding[19] AS DOUBLE) * (-0.7469985407047881) + CAST(embedding[20] AS DOUBLE) * (-0.48331609778728823) + CAST(embedding[21] AS DOUBLE) * (0.29323698553435634) + CAST(embedding[22] AS DOUBLE) * (0.32880305059786946) + CAST(embedding[23] AS DOUBLE) * (0.42292750142841234) + CAST(embedding[24] AS DOUBLE) * (-0.5316968847836061) + CAST(embedding[25] AS DOUBLE) * (-0.7815327894493503) + CAST(embedding[26] AS DOUBLE) * (0.3885821285897724) + CAST(embedding[27] AS DOUBLE) * (-0.9019256859772758) + CAST(embedding[28] AS DOUBLE) * (-0.8431287655483993) + CAST(embedding[29] AS DOUBLE) * (0.6772483102750041) + CAST(embedding[30] AS DOUBLE) * (-0.8287843545557869) + CAST(embedding[31] AS DOUBLE) * (-0.9384932157294542) + CAST(embedding[32] AS DOUBLE) * (1.1071798435579583) + CAST(embedding[33] AS DOUBLE) * (-0.07440455496353912) + CAST(embedding[34] AS DOUBLE) * (-2.2775948085229505) + CAST(embedding[35] AS DOUBLE) * (-0.79017412740223) + CAST(embedding[36] AS DOUBLE) * (1.930574431303024) + CAST(embedding[37] AS DOUBLE) * (2.8226402963339505) + CAST(embedding[38] AS DOUBLE) * (-0.3307794847808993) + CAST(embedding[39] AS DOUBLE) * (0.6730651408558647) + CAST(embedding[40] AS DOUBLE) * (0.7095176547927833) + CAST(embedding[41] AS DOUBLE) * (0.28316427614264444) + CAST(embedding[42] AS DOUBLE) * (-1.864358022953004) + CAST(embedding[43] AS DOUBLE) * (0.9718854661777622) + CAST(embedding[44] AS DOUBLE) * (0.24638743285914722) + CAST(embedding[45] AS DOUBLE) * (-0.27244905984874274) + CAST(embedding[46] AS DOUBLE) * (-1.66304355295086) + CAST(embedding[47] AS DOUBLE) * (-0.6709920247726548) + CAST(embedding[48] AS DOUBLE) * (-0.1503908533056657) + CAST(embedding[49] AS DOUBLE) * (-0.28949208451087605) + CAST(embedding[50] AS DOUBLE) * (0.19196836969485986) + CAST(embedding[51] AS DOUBLE) * (-0.4235170800033746) + CAST(embedding[52] AS DOUBLE) * (0.9672949728957527) + CAST(embedding[53] AS DOUBLE) * (0.590253985117911) + CAST(embedding[54] AS DOUBLE) * (-1.1964754181940807) + CAST(embedding[55] AS DOUBLE) * (-0.6452014455967686) + CAST(embedding[56] AS DOUBLE) * (0.38505006237926204) + CAST(embedding[57] AS DOUBLE) * (-0.5943814896782081) + CAST(embedding[58] AS DOUBLE) * (1.3669637123527583) + CAST(embedding[59] AS DOUBLE) * (-0.5807502167189974) + CAST(embedding[60] AS DOUBLE) * (0.20719471705297313) + CAST(embedding[61] AS DOUBLE) * (0.570329499551438) + CAST(embedding[62] AS DOUBLE) * (-1.1785388641264671) + CAST(embedding[63] AS DOUBLE) * (1.2141881064610243) + CAST(embedding[64] AS DOUBLE) * (-0.25129379946410557)) AS d3,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (-0.7560079060022217) + CAST(embedding[2] AS DOUBLE) * (-0.7378716810667721) + CAST(embedding[3] AS DOUBLE) * (-1.742103590024213) + CAST(embedding[4] AS DOUBLE) * (-1.4098247094809109) + CAST(embedding[5] AS DOUBLE) * (1.4606447943546157) + CAST(embedding[6] AS DOUBLE) * (-0.17250578728386445) + CAST(embedding[7] AS DOUBLE) * (-0.3257948499277712) + CAST(embedding[8] AS DOUBLE) * (0.15270946996446674) + CAST(embedding[9] AS DOUBLE) * (0.5350676819345033) + CAST(embedding[10] AS DOUBLE) * (-0.8408099477723523) + CAST(embedding[11] AS DOUBLE) * (-0.25358510438853565) + CAST(embedding[12] AS DOUBLE) * (0.23089693522171328) + CAST(embedding[13] AS DOUBLE) * (0.9723717677086743) + CAST(embedding[14] AS DOUBLE) * (0.21176691849489224) + CAST(embedding[15] AS DOUBLE) * (1.622072076161329) + CAST(embedding[16] AS DOUBLE) * (-0.259737305653496) + CAST(embedding[17] AS DOUBLE) * (-0.3803284367555525) + CAST(embedding[18] AS DOUBLE) * (-1.4364123113950473) + CAST(embedding[19] AS DOUBLE) * (-0.08705007687666258) + CAST(embedding[20] AS DOUBLE) * (0.6015317838054497) + CAST(embedding[21] AS DOUBLE) * (-0.29001595831040544) + CAST(embedding[22] AS DOUBLE) * (-0.2173328068914763) + CAST(embedding[23] AS DOUBLE) * (-1.0226848930297348) + CAST(embedding[24] AS DOUBLE) * (-0.631809466748631) + CAST(embedding[25] AS DOUBLE) * (-0.49060269685145164) + CAST(embedding[26] AS DOUBLE) * (-0.1342081390565126) + CAST(embedding[27] AS DOUBLE) * (1.0316457343628445) + CAST(embedding[28] AS DOUBLE) * (0.46658264248356673) + CAST(embedding[29] AS DOUBLE) * (0.8737551066402791) + CAST(embedding[30] AS DOUBLE) * (1.1348800686150466) + CAST(embedding[31] AS DOUBLE) * (-0.5087715850370743) + CAST(embedding[32] AS DOUBLE) * (1.296037404449276) + CAST(embedding[33] AS DOUBLE) * (0.0018052562936504235) + CAST(embedding[34] AS DOUBLE) * (-1.36565838460654) + CAST(embedding[35] AS DOUBLE) * (-0.6500127193478521) + CAST(embedding[36] AS DOUBLE) * (-0.13071091507238033) + CAST(embedding[37] AS DOUBLE) * (-1.5837538403030738) + CAST(embedding[38] AS DOUBLE) * (2.2628369079538735) + CAST(embedding[39] AS DOUBLE) * (-0.09521879011087905) + CAST(embedding[40] AS DOUBLE) * (0.8124042003523465) + CAST(embedding[41] AS DOUBLE) * (-1.255509101479582) + CAST(embedding[42] AS DOUBLE) * (0.0530108005322944) + CAST(embedding[43] AS DOUBLE) * (0.21182726651582146) + CAST(embedding[44] AS DOUBLE) * (-0.8092799626437538) + CAST(embedding[45] AS DOUBLE) * (0.20626903737753405) + CAST(embedding[46] AS DOUBLE) * (-0.04907170187196181) + CAST(embedding[47] AS DOUBLE) * (0.3258436076148109) + CAST(embedding[48] AS DOUBLE) * (-1.2571816902337878) + CAST(embedding[49] AS DOUBLE) * (0.4688023114122624) + CAST(embedding[50] AS DOUBLE) * (-0.33539208585959696) + CAST(embedding[51] AS DOUBLE) * (-0.9039221037915418) + CAST(embedding[52] AS DOUBLE) * (-2.2507551654725955) + CAST(embedding[53] AS DOUBLE) * (-0.24311613959906464) + CAST(embedding[54] AS DOUBLE) * (-0.4234778923387934) + CAST(embedding[55] AS DOUBLE) * (2.3241261682014445) + CAST(embedding[56] AS DOUBLE) * (-1.2599687399625334) + CAST(embedding[57] AS DOUBLE) * (1.437920339605771) + CAST(embedding[58] AS DOUBLE) * (1.2018382309577607) + CAST(embedding[59] AS DOUBLE) * (0.3616923881852431) + CAST(embedding[60] AS DOUBLE) * (0.19685995196008332) + CAST(embedding[61] AS DOUBLE) * (0.44871021855705817) + CAST(embedding[62] AS DOUBLE) * (-1.5310097755490863) + CAST(embedding[63] AS DOUBLE) * (1.3629990284110212) + CAST(embedding[64] AS DOUBLE) * (-0.37575527691480226)) AS d4,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (-0.7947778644467747) + CAST(embedding[2] AS DOUBLE) * (-0.05852227728787731) + CAST(embedding[3] AS DOUBLE) * (-2.8045415901619384) + CAST(embedding[4] AS DOUBLE) * (-1.3817059570353538) + CAST(embedding[5] AS DOUBLE) * (-1.234285363554774) + CAST(embedding[6] AS DOUBLE) * (-1.6260875570033846) + CAST(embedding[7] AS DOUBLE) * (0.5283780595294192) + CAST(embedding[8] AS DOUBLE) * (1.541627876647064) + CAST(embedding[9] AS DOUBLE) * (-0.04380232236531185) + CAST(embedding[10] AS DOUBLE) * (-0.3808693638733885) + CAST(embedding[11] AS DOUBLE) * (0.26569696955107225) + CAST(embedding[12] AS DOUBLE) * (-0.5628030454699816) + CAST(embedding[13] AS DOUBLE) * (0.07242262333062274) + CAST(embedding[14] AS DOUBLE) * (0.34797569121261673) + CAST(embedding[15] AS DOUBLE) * (-0.28899664155805754) + CAST(embedding[16] AS DOUBLE) * (-0.47273353990752054) + CAST(embedding[17] AS DOUBLE) * (0.008928680217665505) + CAST(embedding[18] AS DOUBLE) * (-0.0013740579127432837) + CAST(embedding[19] AS DOUBLE) * (0.6161441992327087) + CAST(embedding[20] AS DOUBLE) * (-1.5708830259208595) + CAST(embedding[21] AS DOUBLE) * (-1.181197430345938) + CAST(embedding[22] AS DOUBLE) * (-0.5494965129653983) + CAST(embedding[23] AS DOUBLE) * (0.4223235129329929) + CAST(embedding[24] AS DOUBLE) * (-1.3582479165312398) + CAST(embedding[25] AS DOUBLE) * (1.1434705589262233) + CAST(embedding[26] AS DOUBLE) * (1.3711530838883825) + CAST(embedding[27] AS DOUBLE) * (-0.8041058814045516) + CAST(embedding[28] AS DOUBLE) * (1.0518710262188335) + CAST(embedding[29] AS DOUBLE) * (-2.1584687113921723) + CAST(embedding[30] AS DOUBLE) * (-0.1689834391167954) + CAST(embedding[31] AS DOUBLE) * (-1.6827624623764945) + CAST(embedding[32] AS DOUBLE) * (1.004328081148524) + CAST(embedding[33] AS DOUBLE) * (0.7737494782789223) + CAST(embedding[34] AS DOUBLE) * (0.43687846229075655) + CAST(embedding[35] AS DOUBLE) * (-0.658512441565811) + CAST(embedding[36] AS DOUBLE) * (-1.2081362876944632) + CAST(embedding[37] AS DOUBLE) * (0.33760528864078715) + CAST(embedding[38] AS DOUBLE) * (-0.5934512271284091) + CAST(embedding[39] AS DOUBLE) * (0.5951157345614863) + CAST(embedding[40] AS DOUBLE) * (-1.679699071166524) + CAST(embedding[41] AS DOUBLE) * (0.34202596439694716) + CAST(embedding[42] AS DOUBLE) * (0.42926377823421663) + CAST(embedding[43] AS DOUBLE) * (-2.3607228054565166) + CAST(embedding[44] AS DOUBLE) * (-1.3620562678720927) + CAST(embedding[45] AS DOUBLE) * (-0.7983500770069416) + CAST(embedding[46] AS DOUBLE) * (-0.6926084979201165) + CAST(embedding[47] AS DOUBLE) * (-1.8194963117993583) + CAST(embedding[48] AS DOUBLE) * (-0.07854544950212143) + CAST(embedding[49] AS DOUBLE) * (-1.2284275858154199) + CAST(embedding[50] AS DOUBLE) * (-0.17315255289660084) + CAST(embedding[51] AS DOUBLE) * (-1.9322142868596925) + CAST(embedding[52] AS DOUBLE) * (-1.2829044054762906) + CAST(embedding[53] AS DOUBLE) * (0.5952853448404123) + CAST(embedding[54] AS DOUBLE) * (-1.8166389063657566) + CAST(embedding[55] AS DOUBLE) * (-0.13762472518828797) + CAST(embedding[56] AS DOUBLE) * (1.346990270951265) + CAST(embedding[57] AS DOUBLE) * (0.705411932804584) + CAST(embedding[58] AS DOUBLE) * (-1.426605036010627) + CAST(embedding[59] AS DOUBLE) * (2.120494170569089) + CAST(embedding[60] AS DOUBLE) * (-0.6623332053082052) + CAST(embedding[61] AS DOUBLE) * (0.8284020450783798) + CAST(embedding[62] AS DOUBLE) * (0.8562258373216443) + CAST(embedding[63] AS DOUBLE) * (-0.42454557593913733) + CAST(embedding[64] AS DOUBLE) * (0.5281384850286454)) AS d5,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (-2.867178892919951) + CAST(embedding[2] AS DOUBLE) * (-0.014412160718381457) + CAST(embedding[3] AS DOUBLE) * (0.05234612813163368) + CAST(embedding[4] AS DOUBLE) * (-0.4539318170208948) + CAST(embedding[5] AS DOUBLE) * (0.013701766992264827) + CAST(embedding[6] AS DOUBLE) * (0.9606269994654866) + CAST(embedding[7] AS DOUBLE) * (0.8327750862020745) + CAST(embedding[8] AS DOUBLE) * (-0.7328008429279502) + CAST(embedding[9] AS DOUBLE) * (0.6805314377419137) + CAST(embedding[10] AS DOUBLE) * (1.065252544549058) + CAST(embedding[11] AS DOUBLE) * (0.0048729387265171184) + CAST(embedding[12] AS DOUBLE) * (0.2795742562054778) + CAST(embedding[13] AS DOUBLE) * (-2.5594752096923545) + CAST(embedding[14] AS DOUBLE) * (-1.6851241814078173) + CAST(embedding[15] AS DOUBLE) * (0.26466288962501844) + CAST(embedding[16] AS DOUBLE) * (-1.6109355687952482) + CAST(embedding[17] AS DOUBLE) * (0.7376584319939369) + CAST(embedding[18] AS DOUBLE) * (1.051484392930078) + CAST(embedding[19] AS DOUBLE) * (-1.1004340464023763) + CAST(embedding[20] AS DOUBLE) * (-1.279068917041472) + CAST(embedding[21] AS DOUBLE) * (-0.31261795810011056) + CAST(embedding[22] AS DOUBLE) * (0.10877375391194066) + CAST(embedding[23] AS DOUBLE) * (0.7059803345572462) + CAST(embedding[24] AS DOUBLE) * (-0.3447156772701103) + CAST(embedding[25] AS DOUBLE) * (-0.08120720538357118) + CAST(embedding[26] AS DOUBLE) * (-1.1141969123870266) + CAST(embedding[27] AS DOUBLE) * (0.1655998241668755) + CAST(embedding[28] AS DOUBLE) * (-0.8926007260578619) + CAST(embedding[29] AS DOUBLE) * (0.8836023148699121) + CAST(embedding[30] AS DOUBLE) * (0.5801154661864193) + CAST(embedding[31] AS DOUBLE) * (-1.759705839340602) + CAST(embedding[32] AS DOUBLE) * (0.2221101930249379) + CAST(embedding[33] AS DOUBLE) * (-1.2190700721734948) + CAST(embedding[34] AS DOUBLE) * (0.8424955329791077) + CAST(embedding[35] AS DOUBLE) * (-1.1579934780764047) + CAST(embedding[36] AS DOUBLE) * (1.139089755685921) + CAST(embedding[37] AS DOUBLE) * (0.9439159185507873) + CAST(embedding[38] AS DOUBLE) * (1.8304775554308583) + CAST(embedding[39] AS DOUBLE) * (0.20583113624178975) + CAST(embedding[40] AS DOUBLE) * (-0.07499538209307) + CAST(embedding[41] AS DOUBLE) * (1.0925066694797367) + CAST(embedding[42] AS DOUBLE) * (-1.3480225719696288) + CAST(embedding[43] AS DOUBLE) * (-0.16584562030131741) + CAST(embedding[44] AS DOUBLE) * (-0.44313981341190406) + CAST(embedding[45] AS DOUBLE) * (-0.1847504751802749) + CAST(embedding[46] AS DOUBLE) * (-1.7087477710841579) + CAST(embedding[47] AS DOUBLE) * (-1.8059707894328) + CAST(embedding[48] AS DOUBLE) * (-1.835201970038044) + CAST(embedding[49] AS DOUBLE) * (1.339074565462185) + CAST(embedding[50] AS DOUBLE) * (-0.4636362240881753) + CAST(embedding[51] AS DOUBLE) * (0.49650648104102196) + CAST(embedding[52] AS DOUBLE) * (-0.2528953507577495) + CAST(embedding[53] AS DOUBLE) * (-0.36709714971435986) + CAST(embedding[54] AS DOUBLE) * (1.1724477771919464) + CAST(embedding[55] AS DOUBLE) * (-2.446486246367169) + CAST(embedding[56] AS DOUBLE) * (-0.3509582401849051) + CAST(embedding[57] AS DOUBLE) * (-0.9154003343631736) + CAST(embedding[58] AS DOUBLE) * (-1.050769234423314) + CAST(embedding[59] AS DOUBLE) * (-1.7456655979827571) + CAST(embedding[60] AS DOUBLE) * (-1.6657081932238365) + CAST(embedding[61] AS DOUBLE) * (-1.3293466137499275) + CAST(embedding[62] AS DOUBLE) * (0.9605050948599068) + CAST(embedding[63] AS DOUBLE) * (-0.8203851403567584) + CAST(embedding[64] AS DOUBLE) * (-0.5972739542453126)) AS d6,
         (0.0 + CAST(embedding[1] AS DOUBLE) * (-0.3065241704037289) + CAST(embedding[2] AS DOUBLE) * (0.4896361685534745) + CAST(embedding[3] AS DOUBLE) * (0.902841462015473) + CAST(embedding[4] AS DOUBLE) * (0.06196851579279813) + CAST(embedding[5] AS DOUBLE) * (-0.1277036103461595) + CAST(embedding[6] AS DOUBLE) * (0.3912936543923712) + CAST(embedding[7] AS DOUBLE) * (-0.9258198733492586) + CAST(embedding[8] AS DOUBLE) * (0.08470690411887269) + CAST(embedding[9] AS DOUBLE) * (1.5566867966361193) + CAST(embedding[10] AS DOUBLE) * (-0.7808313528887589) + CAST(embedding[11] AS DOUBLE) * (-0.9854699391548791) + CAST(embedding[12] AS DOUBLE) * (-1.6683336560385666) + CAST(embedding[13] AS DOUBLE) * (-0.07676378939745575) + CAST(embedding[14] AS DOUBLE) * (0.49125802572320415) + CAST(embedding[15] AS DOUBLE) * (-0.5544581959512096) + CAST(embedding[16] AS DOUBLE) * (-0.45690176428784984) + CAST(embedding[17] AS DOUBLE) * (1.0473897506741645) + CAST(embedding[18] AS DOUBLE) * (-0.09867944161778038) + CAST(embedding[19] AS DOUBLE) * (0.5668522899972447) + CAST(embedding[20] AS DOUBLE) * (-0.4926806964875525) + CAST(embedding[21] AS DOUBLE) * (1.1678215007051747) + CAST(embedding[22] AS DOUBLE) * (0.7800953667303611) + CAST(embedding[23] AS DOUBLE) * (-0.27005431883325964) + CAST(embedding[24] AS DOUBLE) * (-0.7201201782050053) + CAST(embedding[25] AS DOUBLE) * (2.4101526094836845) + CAST(embedding[26] AS DOUBLE) * (-1.1938702258857508) + CAST(embedding[27] AS DOUBLE) * (-1.0837671518955354) + CAST(embedding[28] AS DOUBLE) * (-2.605430611221645) + CAST(embedding[29] AS DOUBLE) * (0.5631159272889905) + CAST(embedding[30] AS DOUBLE) * (-0.05979369278736619) + CAST(embedding[31] AS DOUBLE) * (-0.20377928571933876) + CAST(embedding[32] AS DOUBLE) * (-1.642884187312021) + CAST(embedding[33] AS DOUBLE) * (-0.10347895122531219) + CAST(embedding[34] AS DOUBLE) * (-0.9049566453366972) + CAST(embedding[35] AS DOUBLE) * (-1.2828102907396286) + CAST(embedding[36] AS DOUBLE) * (-0.3580340226410346) + CAST(embedding[37] AS DOUBLE) * (0.19100384998267478) + CAST(embedding[38] AS DOUBLE) * (-0.2630523883776923) + CAST(embedding[39] AS DOUBLE) * (-0.615741925059664) + CAST(embedding[40] AS DOUBLE) * (0.614134732768068) + CAST(embedding[41] AS DOUBLE) * (0.1285628495320423) + CAST(embedding[42] AS DOUBLE) * (-0.48111949365043144) + CAST(embedding[43] AS DOUBLE) * (0.4585404724321882) + CAST(embedding[44] AS DOUBLE) * (0.1872047376906648) + CAST(embedding[45] AS DOUBLE) * (0.797192492326439) + CAST(embedding[46] AS DOUBLE) * (0.7120455700242393) + CAST(embedding[47] AS DOUBLE) * (0.6225385345312664) + CAST(embedding[48] AS DOUBLE) * (-0.6999147038257569) + CAST(embedding[49] AS DOUBLE) * (1.1982937931859536) + CAST(embedding[50] AS DOUBLE) * (0.8838890781065778) + CAST(embedding[51] AS DOUBLE) * (-0.6459344655986408) + CAST(embedding[52] AS DOUBLE) * (1.1296765027760798) + CAST(embedding[53] AS DOUBLE) * (-0.01645034361594869) + CAST(embedding[54] AS DOUBLE) * (-1.1031497528717316) + CAST(embedding[55] AS DOUBLE) * (-0.14576797065044073) + CAST(embedding[56] AS DOUBLE) * (-1.3826115321466308) + CAST(embedding[57] AS DOUBLE) * (1.0117615755188765) + CAST(embedding[58] AS DOUBLE) * (-1.3602385683642157) + CAST(embedding[59] AS DOUBLE) * (1.3472380540651037) + CAST(embedding[60] AS DOUBLE) * (-0.9633846161181444) + CAST(embedding[61] AS DOUBLE) * (-0.2383014785117158) + CAST(embedding[62] AS DOUBLE) * (1.1610250601941312) + CAST(embedding[63] AS DOUBLE) * (0.24445652009324711) + CAST(embedding[64] AS DOUBLE) * (-1.7353167618425036)) AS d7,
         (0.0 + CAST(embedding[1] AS DOUBLE)*CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE)*CAST(embedding[2] AS DOUBLE) + CAST(embedding[3] AS DOUBLE)*CAST(embedding[3] AS DOUBLE) + CAST(embedding[4] AS DOUBLE)*CAST(embedding[4] AS DOUBLE) + CAST(embedding[5] AS DOUBLE)*CAST(embedding[5] AS DOUBLE) + CAST(embedding[6] AS DOUBLE)*CAST(embedding[6] AS DOUBLE) + CAST(embedding[7] AS DOUBLE)*CAST(embedding[7] AS DOUBLE) + CAST(embedding[8] AS DOUBLE)*CAST(embedding[8] AS DOUBLE) + CAST(embedding[9] AS DOUBLE)*CAST(embedding[9] AS DOUBLE) + CAST(embedding[10] AS DOUBLE)*CAST(embedding[10] AS DOUBLE) + CAST(embedding[11] AS DOUBLE)*CAST(embedding[11] AS DOUBLE) + CAST(embedding[12] AS DOUBLE)*CAST(embedding[12] AS DOUBLE) + CAST(embedding[13] AS DOUBLE)*CAST(embedding[13] AS DOUBLE) + CAST(embedding[14] AS DOUBLE)*CAST(embedding[14] AS DOUBLE) + CAST(embedding[15] AS DOUBLE)*CAST(embedding[15] AS DOUBLE) + CAST(embedding[16] AS DOUBLE)*CAST(embedding[16] AS DOUBLE) + CAST(embedding[17] AS DOUBLE)*CAST(embedding[17] AS DOUBLE) + CAST(embedding[18] AS DOUBLE)*CAST(embedding[18] AS DOUBLE) + CAST(embedding[19] AS DOUBLE)*CAST(embedding[19] AS DOUBLE) + CAST(embedding[20] AS DOUBLE)*CAST(embedding[20] AS DOUBLE) + CAST(embedding[21] AS DOUBLE)*CAST(embedding[21] AS DOUBLE) + CAST(embedding[22] AS DOUBLE)*CAST(embedding[22] AS DOUBLE) + CAST(embedding[23] AS DOUBLE)*CAST(embedding[23] AS DOUBLE) + CAST(embedding[24] AS DOUBLE)*CAST(embedding[24] AS DOUBLE) + CAST(embedding[25] AS DOUBLE)*CAST(embedding[25] AS DOUBLE) + CAST(embedding[26] AS DOUBLE)*CAST(embedding[26] AS DOUBLE) + CAST(embedding[27] AS DOUBLE)*CAST(embedding[27] AS DOUBLE) + CAST(embedding[28] AS DOUBLE)*CAST(embedding[28] AS DOUBLE) + CAST(embedding[29] AS DOUBLE)*CAST(embedding[29] AS DOUBLE) + CAST(embedding[30] AS DOUBLE)*CAST(embedding[30] AS DOUBLE) + CAST(embedding[31] AS DOUBLE)*CAST(embedding[31] AS DOUBLE) + CAST(embedding[32] AS DOUBLE)*CAST(embedding[32] AS DOUBLE) + CAST(embedding[33] AS DOUBLE)*CAST(embedding[33] AS DOUBLE) + CAST(embedding[34] AS DOUBLE)*CAST(embedding[34] AS DOUBLE) + CAST(embedding[35] AS DOUBLE)*CAST(embedding[35] AS DOUBLE) + CAST(embedding[36] AS DOUBLE)*CAST(embedding[36] AS DOUBLE) + CAST(embedding[37] AS DOUBLE)*CAST(embedding[37] AS DOUBLE) + CAST(embedding[38] AS DOUBLE)*CAST(embedding[38] AS DOUBLE) + CAST(embedding[39] AS DOUBLE)*CAST(embedding[39] AS DOUBLE) + CAST(embedding[40] AS DOUBLE)*CAST(embedding[40] AS DOUBLE) + CAST(embedding[41] AS DOUBLE)*CAST(embedding[41] AS DOUBLE) + CAST(embedding[42] AS DOUBLE)*CAST(embedding[42] AS DOUBLE) + CAST(embedding[43] AS DOUBLE)*CAST(embedding[43] AS DOUBLE) + CAST(embedding[44] AS DOUBLE)*CAST(embedding[44] AS DOUBLE) + CAST(embedding[45] AS DOUBLE)*CAST(embedding[45] AS DOUBLE) + CAST(embedding[46] AS DOUBLE)*CAST(embedding[46] AS DOUBLE) + CAST(embedding[47] AS DOUBLE)*CAST(embedding[47] AS DOUBLE) + CAST(embedding[48] AS DOUBLE)*CAST(embedding[48] AS DOUBLE) + CAST(embedding[49] AS DOUBLE)*CAST(embedding[49] AS DOUBLE) + CAST(embedding[50] AS DOUBLE)*CAST(embedding[50] AS DOUBLE) + CAST(embedding[51] AS DOUBLE)*CAST(embedding[51] AS DOUBLE) + CAST(embedding[52] AS DOUBLE)*CAST(embedding[52] AS DOUBLE) + CAST(embedding[53] AS DOUBLE)*CAST(embedding[53] AS DOUBLE) + CAST(embedding[54] AS DOUBLE)*CAST(embedding[54] AS DOUBLE) + CAST(embedding[55] AS DOUBLE)*CAST(embedding[55] AS DOUBLE) + CAST(embedding[56] AS DOUBLE)*CAST(embedding[56] AS DOUBLE) + CAST(embedding[57] AS DOUBLE)*CAST(embedding[57] AS DOUBLE) + CAST(embedding[58] AS DOUBLE)*CAST(embedding[58] AS DOUBLE) + CAST(embedding[59] AS DOUBLE)*CAST(embedding[59] AS DOUBLE) + CAST(embedding[60] AS DOUBLE)*CAST(embedding[60] AS DOUBLE) + CAST(embedding[61] AS DOUBLE)*CAST(embedding[61] AS DOUBLE) + CAST(embedding[62] AS DOUBLE)*CAST(embedding[62] AS DOUBLE) + CAST(embedding[63] AS DOUBLE)*CAST(embedding[63] AS DOUBLE) + CAST(embedding[64] AS DOUBLE)*CAST(embedding[64] AS DOUBLE)) AS nrm2
  FROM embeddings),
c AS (
  SELECT vec_id AS neighbor_id, embedding AS c_vec, sqrt(nrm2) AS c_norm,
         CASE WHEN d0 >= d1 AND d0 >= d2 AND d0 >= d3 AND d0 >= d4 AND d0 >= d5 AND d0 >= d6 AND d0 >= d7 THEN 0 WHEN d1 >= d0 AND d1 >= d2 AND d1 >= d3 AND d1 >= d4 AND d1 >= d5 AND d1 >= d6 AND d1 >= d7 THEN 1 WHEN d2 >= d0 AND d2 >= d1 AND d2 >= d3 AND d2 >= d4 AND d2 >= d5 AND d2 >= d6 AND d2 >= d7 THEN 2 WHEN d3 >= d0 AND d3 >= d1 AND d3 >= d2 AND d3 >= d4 AND d3 >= d5 AND d3 >= d6 AND d3 >= d7 THEN 3 WHEN d4 >= d0 AND d4 >= d1 AND d4 >= d2 AND d4 >= d3 AND d4 >= d5 AND d4 >= d6 AND d4 >= d7 THEN 4 WHEN d5 >= d0 AND d5 >= d1 AND d5 >= d2 AND d5 >= d3 AND d5 >= d4 AND d5 >= d6 AND d5 >= d7 THEN 5 WHEN d6 >= d0 AND d6 >= d1 AND d6 >= d2 AND d6 >= d3 AND d6 >= d4 AND d6 >= d5 AND d6 >= d7 THEN 6 ELSE 7 END AS list_id
  FROM base),
qd AS (SELECT * FROM base WHERE vec_id < 10),
qs AS (
  SELECT vec_id AS q_id, embedding AS q_vec, sqrt(nrm2) AS q_norm,
         i AS list_id, CASE i WHEN 0 THEN d0 WHEN 1 THEN d1 WHEN 2 THEN d2 WHEN 3 THEN d3 WHEN 4 THEN d4 WHEN 5 THEN d5 WHEN 6 THEN d6 WHEN 7 THEN d7 END AS cd
  FROM qd CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS i)),
probes AS (
  SELECT q_id, q_vec, q_norm, list_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cd DESC, list_id) AS pr FROM qs)
  WHERE pr <= 4),
scored AS (
  SELECT q_id, neighbor_id,
         (0.0 + CAST(q_vec[1] AS DOUBLE)*CAST(c_vec[1] AS DOUBLE) + CAST(q_vec[2] AS DOUBLE)*CAST(c_vec[2] AS DOUBLE) + CAST(q_vec[3] AS DOUBLE)*CAST(c_vec[3] AS DOUBLE) + CAST(q_vec[4] AS DOUBLE)*CAST(c_vec[4] AS DOUBLE) + CAST(q_vec[5] AS DOUBLE)*CAST(c_vec[5] AS DOUBLE) + CAST(q_vec[6] AS DOUBLE)*CAST(c_vec[6] AS DOUBLE) + CAST(q_vec[7] AS DOUBLE)*CAST(c_vec[7] AS DOUBLE) + CAST(q_vec[8] AS DOUBLE)*CAST(c_vec[8] AS DOUBLE) + CAST(q_vec[9] AS DOUBLE)*CAST(c_vec[9] AS DOUBLE) + CAST(q_vec[10] AS DOUBLE)*CAST(c_vec[10] AS DOUBLE) + CAST(q_vec[11] AS DOUBLE)*CAST(c_vec[11] AS DOUBLE) + CAST(q_vec[12] AS DOUBLE)*CAST(c_vec[12] AS DOUBLE) + CAST(q_vec[13] AS DOUBLE)*CAST(c_vec[13] AS DOUBLE) + CAST(q_vec[14] AS DOUBLE)*CAST(c_vec[14] AS DOUBLE) + CAST(q_vec[15] AS DOUBLE)*CAST(c_vec[15] AS DOUBLE) + CAST(q_vec[16] AS DOUBLE)*CAST(c_vec[16] AS DOUBLE) + CAST(q_vec[17] AS DOUBLE)*CAST(c_vec[17] AS DOUBLE) + CAST(q_vec[18] AS DOUBLE)*CAST(c_vec[18] AS DOUBLE) + CAST(q_vec[19] AS DOUBLE)*CAST(c_vec[19] AS DOUBLE) + CAST(q_vec[20] AS DOUBLE)*CAST(c_vec[20] AS DOUBLE) + CAST(q_vec[21] AS DOUBLE)*CAST(c_vec[21] AS DOUBLE) + CAST(q_vec[22] AS DOUBLE)*CAST(c_vec[22] AS DOUBLE) + CAST(q_vec[23] AS DOUBLE)*CAST(c_vec[23] AS DOUBLE) + CAST(q_vec[24] AS DOUBLE)*CAST(c_vec[24] AS DOUBLE) + CAST(q_vec[25] AS DOUBLE)*CAST(c_vec[25] AS DOUBLE) + CAST(q_vec[26] AS DOUBLE)*CAST(c_vec[26] AS DOUBLE) + CAST(q_vec[27] AS DOUBLE)*CAST(c_vec[27] AS DOUBLE) + CAST(q_vec[28] AS DOUBLE)*CAST(c_vec[28] AS DOUBLE) + CAST(q_vec[29] AS DOUBLE)*CAST(c_vec[29] AS DOUBLE) + CAST(q_vec[30] AS DOUBLE)*CAST(c_vec[30] AS DOUBLE) + CAST(q_vec[31] AS DOUBLE)*CAST(c_vec[31] AS DOUBLE) + CAST(q_vec[32] AS DOUBLE)*CAST(c_vec[32] AS DOUBLE) + CAST(q_vec[33] AS DOUBLE)*CAST(c_vec[33] AS DOUBLE) + CAST(q_vec[34] AS DOUBLE)*CAST(c_vec[34] AS DOUBLE) + CAST(q_vec[35] AS DOUBLE)*CAST(c_vec[35] AS DOUBLE) + CAST(q_vec[36] AS DOUBLE)*CAST(c_vec[36] AS DOUBLE) + CAST(q_vec[37] AS DOUBLE)*CAST(c_vec[37] AS DOUBLE) + CAST(q_vec[38] AS DOUBLE)*CAST(c_vec[38] AS DOUBLE) + CAST(q_vec[39] AS DOUBLE)*CAST(c_vec[39] AS DOUBLE) + CAST(q_vec[40] AS DOUBLE)*CAST(c_vec[40] AS DOUBLE) + CAST(q_vec[41] AS DOUBLE)*CAST(c_vec[41] AS DOUBLE) + CAST(q_vec[42] AS DOUBLE)*CAST(c_vec[42] AS DOUBLE) + CAST(q_vec[43] AS DOUBLE)*CAST(c_vec[43] AS DOUBLE) + CAST(q_vec[44] AS DOUBLE)*CAST(c_vec[44] AS DOUBLE) + CAST(q_vec[45] AS DOUBLE)*CAST(c_vec[45] AS DOUBLE) + CAST(q_vec[46] AS DOUBLE)*CAST(c_vec[46] AS DOUBLE) + CAST(q_vec[47] AS DOUBLE)*CAST(c_vec[47] AS DOUBLE) + CAST(q_vec[48] AS DOUBLE)*CAST(c_vec[48] AS DOUBLE) + CAST(q_vec[49] AS DOUBLE)*CAST(c_vec[49] AS DOUBLE) + CAST(q_vec[50] AS DOUBLE)*CAST(c_vec[50] AS DOUBLE) + CAST(q_vec[51] AS DOUBLE)*CAST(c_vec[51] AS DOUBLE) + CAST(q_vec[52] AS DOUBLE)*CAST(c_vec[52] AS DOUBLE) + CAST(q_vec[53] AS DOUBLE)*CAST(c_vec[53] AS DOUBLE) + CAST(q_vec[54] AS DOUBLE)*CAST(c_vec[54] AS DOUBLE) + CAST(q_vec[55] AS DOUBLE)*CAST(c_vec[55] AS DOUBLE) + CAST(q_vec[56] AS DOUBLE)*CAST(c_vec[56] AS DOUBLE) + CAST(q_vec[57] AS DOUBLE)*CAST(c_vec[57] AS DOUBLE) + CAST(q_vec[58] AS DOUBLE)*CAST(c_vec[58] AS DOUBLE) + CAST(q_vec[59] AS DOUBLE)*CAST(c_vec[59] AS DOUBLE) + CAST(q_vec[60] AS DOUBLE)*CAST(c_vec[60] AS DOUBLE) + CAST(q_vec[61] AS DOUBLE)*CAST(c_vec[61] AS DOUBLE) + CAST(q_vec[62] AS DOUBLE)*CAST(c_vec[62] AS DOUBLE) + CAST(q_vec[63] AS DOUBLE)*CAST(c_vec[63] AS DOUBLE) + CAST(q_vec[64] AS DOUBLE)*CAST(c_vec[64] AS DOUBLE)) / (q_norm * c_norm) AS cos_sim
  FROM probes JOIN c USING (list_id)
  WHERE q_id <> neighbor_id),
r AS (
  SELECT q_id, neighbor_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS "rank"
  FROM scored)
SELECT q_id, neighbor_id, cos_sim, "rank" FROM r WHERE "rank" <= 5

      ) a ON a.q_id = e.q_id AND a.neighbor_id = e.neighbor_id) nh
) ORDER BY nprobe
"""

# P103: growth accounting -- first-order-month split, exact cents.
ORACLE["monthly_growth_accounting"] = """
WITH first AS (
  SELECT o_custkey,
         MIN(date_trunc('month', CAST(o_orderdate AS DATE))) AS first_month
  FROM orders GROUP BY o_custkey),
x AS (
  SELECT o.o_custkey,
         date_trunc('month', CAST(o.o_orderdate AS DATE)) AS month,
         CAST(FLOOR(o.o_totalprice * 100.0) AS BIGINT) AS v,
         f.first_month
  FROM orders o JOIN first f USING (o_custkey)),
g AS (
  SELECT month,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CASE WHEN month = first_month THEN v ELSE 0 END)
              AS BIGINT) AS new_cents,
         CAST(SUM(CASE WHEN month != first_month THEN v ELSE 0 END)
              AS BIGINT) AS ret_cents,
         CAST(SUM(CASE WHEN month = first_month THEN 1 ELSE 0 END)
              AS BIGINT) AS n_new_orders
  FROM x GROUP BY month)
SELECT month, n_orders, n_new_orders,
       CAST(new_cents AS DOUBLE) / 100.0 AS new_revenue,
       CAST(ret_cents AS DOUBLE) / 100.0 AS returning_revenue,
       CAST((1000000 * new_cents) // (new_cents + ret_cents) AS BIGINT)
         AS new_share_ppm
FROM g ORDER BY month
"""


# R111: Tukey fences -- rank-at-ceil quartiles, integer
# cross-multiplied fence tests (window rank at test scale; Spark uses
# the distributed rank).
ORACLE["order_value_iqr_outliers"] = """
WITH v AS (
  SELECT CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS v, o_orderkey
  FROM orders),
r AS (
  SELECT v, CAST(ROW_NUMBER() OVER (ORDER BY v, o_orderkey) AS BIGINT) AS rn,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM v),
q AS (
  SELECT CAST(MIN(v) AS BIGINT) AS q1, CAST(MAX(v) AS BIGINT) AS q3
  FROM r WHERE rn = (n + 3) // 4 OR rn = (3 * n + 3) // 4),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(MAX(q.q1) AS BIGINT) AS q1c,
         CAST(MAX(q.q3) AS BIGINT) AS q3c,
         CAST(SUM(CASE WHEN 2 * v.v < 2 * q.q1 - 3 * (q.q3 - q.q1)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
         CAST(SUM(CASE WHEN 2 * v.v > 2 * q.q3 + 3 * (q.q3 - q.q1)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers
  FROM v, q)
SELECT n_orders,
       CAST(q1c AS DOUBLE) / 100.0 AS q1,
       CAST(q3c AS DOUBLE) / 100.0 AS q3,
       CAST(q3c - q1c AS DOUBLE) / 100.0 AS iqr,
       n_low_outliers, n_high_outliers
FROM g
"""

# R112: per-segment quartiles -- the same rank-at-ceil picks within
# segment partitions.
ORACLE["segment_value_quartiles"] = """
WITH x AS (
  SELECT c.c_mktsegment AS segment,
         CAST(FLOOR(o.o_totalprice * 100.0) AS BIGINT) AS v,
         o.o_orderkey
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
w AS (
  SELECT segment, v,
         CAST(ROW_NUMBER() OVER (PARTITION BY segment
                ORDER BY v, o_orderkey) AS BIGINT) AS r,
         CAST(COUNT(*) OVER (PARTITION BY segment) AS BIGINT) AS n_s
  FROM x),
picks AS (
  SELECT segment, n_s, v,
         CASE WHEN r = (n_s + 3) // 4 THEN 'q1'
              WHEN r = (2 * n_s + 3) // 4 THEN 'median'
              ELSE 'q3' END AS which
  FROM w
  WHERE r = (n_s + 3) // 4 OR r = (2 * n_s + 3) // 4
     OR r = (3 * n_s + 3) // 4)
SELECT segment,
       CAST(MAX(n_s) AS BIGINT) AS n_orders,
       CAST(MIN(CASE WHEN which = 'q1' THEN v END) AS DOUBLE) / 100.0 AS q1,
       CAST(MIN(CASE WHEN which = 'median' THEN v END) AS DOUBLE) / 100.0
         AS median,
       CAST(MIN(CASE WHEN which = 'q3' THEN v END) AS DOUBLE) / 100.0 AS q3
FROM picks GROUP BY segment ORDER BY segment
"""

# L88: shingle document-frequency histogram on the L2 shingle grain.
ORACLE["shingle_df_histogram"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents),
sh_all AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3),
dfs AS (
  SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
  FROM sh_all GROUP BY shingle),
b AS (
  SELECT df, CAST(FLOOR(log2(CAST(df AS DOUBLE))) AS BIGINT)
           AS df_log2_bucket
  FROM dfs),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_shingles_total FROM b),
g AS (
  SELECT df_log2_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_shingles,
         CAST(MIN(df) AS BIGINT) AS min_df,
         CAST(MAX(df) AS BIGINT) AS max_df
  FROM b GROUP BY df_log2_bucket)
SELECT df_log2_bucket, n_shingles, min_df, max_df,
       CAST((1000000 * n_shingles) // t.n_shingles_total AS BIGINT)
         AS share_ppm
FROM g, tot t ORDER BY df_log2_bucket
"""


# P104: audience-overlap Jaccard matrix -- exact counts off the
# distinct (user, type) grain.
ORACLE["event_type_audience_overlap"] = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
sizes AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM ut GROUP BY event_type),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT i.type_a, i.type_b,
       sa.n_users AS na, sb.n_users AS nb, i.n_both,
       CAST((1000000 * i.n_both) // (sa.n_users + sb.n_users - i.n_both)
            AS BIGINT) AS jaccard_ppm
FROM inter i
JOIN sizes sa ON sa.event_type = i.type_a
JOIN sizes sb ON sb.event_type = i.type_b
ORDER BY i.type_a, i.type_b
"""

# L89: per-language token-length quartiles, rank-at-ceil picks.
ORACLE["doc_length_quartiles_by_lang"] = r"""
WITH x AS (
  SELECT lang,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS v,
         doc_id
  FROM documents),
w AS (
  SELECT lang, v,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY v, doc_id)
              AS BIGINT) AS r,
         CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n_s
  FROM x),
picks AS (
  SELECT lang, n_s, v,
         CASE WHEN r = (n_s + 3) // 4 THEN 'q1'
              WHEN r = (2 * n_s + 3) // 4 THEN 'median'
              ELSE 'q3' END AS which
  FROM w
  WHERE r = (n_s + 3) // 4 OR r = (2 * n_s + 3) // 4
     OR r = (3 * n_s + 3) // 4)
SELECT lang,
       CAST(MAX(n_s) AS BIGINT) AS n_docs,
       CAST(MIN(CASE WHEN which = 'q1' THEN v END) AS BIGINT) AS q1_tokens,
       CAST(MIN(CASE WHEN which = 'median' THEN v END) AS BIGINT)
         AS median_tokens,
       CAST(MIN(CASE WHEN which = 'q3' THEN v END) AS BIGINT) AS q3_tokens
FROM picks GROUP BY lang ORDER BY lang
"""


# P26d: bounded-default fuzzy linkage — two in-block sorted-
# neighborhood passes (name / reversed name, W=16), distinct
# candidates, threshold levenshtein verify, exact compared/dropped
# pair mass on every row. The oracle uses the plain global windows the
# Spark side computes distributedly.
ORACLE["customer_fuzzy_match_capped"] = """
WITH ra AS (
  SELECT c_custkey, c_name, c_nationkey,
         ROW_NUMBER() OVER (ORDER BY c_nationkey, c_name, c_custkey) AS rn
  FROM customer),
rb AS (
  SELECT c_custkey, c_name, c_nationkey,
         ROW_NUMBER() OVER (ORDER BY c_nationkey, reverse(c_name), c_custkey)
           AS rn
  FROM customer),
cand AS (
  SELECT LEAST(a.c_custkey, b.c_custkey) AS ka,
         GREATEST(a.c_custkey, b.c_custkey) AS kb
  FROM ra a JOIN ra b
    ON b.rn > a.rn AND b.rn <= a.rn + 16
   AND a.c_nationkey = b.c_nationkey
  UNION
  SELECT LEAST(a.c_custkey, b.c_custkey),
         GREATEST(a.c_custkey, b.c_custkey)
  FROM rb a JOIN rb b
    ON b.rn > a.rn AND b.rn <= a.rn + 16
   AND a.c_nationkey = b.c_nationkey),
mass AS (
  SELECT CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS compared_pairs,
         CAST((SELECT SUM(n * (n - 1) // 2) FROM
                 (SELECT COUNT(*) AS n FROM customer GROUP BY c_nationkey))
              AS BIGINT)
           - CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS dropped_pairs)
SELECT cand.ka AS custkey_a, cand.kb AS custkey_b,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist,
       compared_pairs, dropped_pairs
FROM cand
JOIN customer a ON a.c_custkey = cand.ka
JOIN customer b ON b.c_custkey = cand.kb
CROSS JOIN mass
WHERE levenshtein(a.c_name, b.c_name) <= 2
"""


# P78b: bounded-default catalog near-dups — two in-block SNM passes
# over the canonical token string (sorted distinct tokens joined) and
# its reverse, W=10, exact Jaccard >= 0.5 verify, exact mass columns.
ORACLE["part_catalog_near_dups_capped"] = """
WITH toks AS (
  SELECT p_partkey, p_type,
         list_sort(list_distinct(regexp_split_to_array(
           trim(lower(p_name || ' ' || p_brand || ' ' || p_type)),
           '\\s+'))) AS t
  FROM part),
keyed AS (
  SELECT p_partkey, p_type, t, array_to_string(t, ' ') AS canon
  FROM toks),
ra AS (
  SELECT p_partkey, p_type,
         ROW_NUMBER() OVER (ORDER BY p_type, canon, p_partkey) AS rn
  FROM keyed),
rb AS (
  SELECT p_partkey, p_type,
         ROW_NUMBER() OVER (ORDER BY p_type, reverse(canon), p_partkey) AS rn
  FROM keyed),
cand AS (
  SELECT LEAST(a.p_partkey, b.p_partkey) AS ka,
         GREATEST(a.p_partkey, b.p_partkey) AS kb
  FROM ra a JOIN ra b
    ON b.rn > a.rn AND b.rn <= a.rn + 10 AND a.p_type = b.p_type
  UNION
  SELECT LEAST(a.p_partkey, b.p_partkey),
         GREATEST(a.p_partkey, b.p_partkey)
  FROM rb a JOIN rb b
    ON b.rn > a.rn AND b.rn <= a.rn + 10 AND a.p_type = b.p_type),
mass AS (
  SELECT CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS compared_pairs,
         CAST((SELECT SUM(n * (n - 1) // 2) FROM
                 (SELECT COUNT(*) AS n FROM toks GROUP BY p_type))
              AS BIGINT)
           - CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS dropped_pairs)
SELECT cand.ka AS part_a, cand.kb AS part_b,
       a.p_type AS p_type,
       CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
         / CAST(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))
                AS DOUBLE) AS jaccard,
       compared_pairs, dropped_pairs
FROM cand
JOIN toks a ON a.p_partkey = cand.ka
JOIN toks b ON b.p_partkey = cand.kb
CROSS JOIN mass
WHERE 2 * len(list_intersect(a.t, b.t))
      >= len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))
ORDER BY part_a, part_b
"""


# R16d/P91b: form-XML payload synthesis (identical string construction
# to _form_xml_payload) + a regex/TRY_CAST twin of from_xml's
# PERMISSIVE semantics on those payload classes: truncated -> corrupt;
# <k> present but not castable to INT -> WHOLE row corrupt; <k> absent
# -> only k NULL; corrupt rows NULL every extracted field.
_XML_PAYLOAD = """
  SELECT event_id, event_type,
         CASE event_id % 11
           WHEN 0 THEN '<form><meta><username>u' || CAST(user_id AS VARCHAR)
                       || '</username>'
           WHEN 1 THEN '<form><meta><username>u' || CAST(user_id AS VARCHAR)
                       || '</username></meta><type>' || event_type
                       || '</type></form>'
           WHEN 2 THEN '<form><meta><username>u' || CAST(user_id AS VARCHAR)
                       || '</username></meta><k>x'
                       || json_extract_string(props, '$.k')
                       || '</k><type>' || event_type || '</type></form>'
           ELSE '<form><meta><username>u' || CAST(user_id AS VARCHAR)
                || '</username></meta><k>'
                || json_extract_string(props, '$.k')
                || '</k><type>' || event_type || '</type></form>'
         END AS payload
  FROM events
"""

_XML_CORRUPT = """
  (NOT regexp_matches(payload, '^<form>.*</form>$')
   OR (regexp_matches(payload, '<k>[^<]*</k>')
       AND TRY_CAST(NULLIF(regexp_extract(payload, '<k>([^<]*)</k>', 1), '')
                    AS INTEGER) IS NULL))
"""

ORACLE["props_xml_extract"] = f"""
WITH src AS ({_XML_PAYLOAD}),
cls AS (
  SELECT event_id, payload,
         regexp_matches(payload, '^<form>.*</form>$') AS wf,
         {_XML_CORRUPT} AS corrupt
  FROM src)
SELECT event_id,
       -- PERMISSIVE keeps fields parsed BEFORE the failure point:
       -- username (first in document order) survives a later bad <k>,
       -- but a truncated document nulls everything
       CASE WHEN NOT wf THEN NULL
            ELSE NULLIF(regexp_extract(payload,
                 '<username>([^<]*)</username>', 1), '') END AS username,
       TRY_CAST(NULLIF(regexp_extract(payload,
                 '<k>([^<]*)</k>', 1), '') AS INTEGER) AS k_xml,
       -- <type> follows <k>, so any corrupt row nulls it
       CASE WHEN corrupt THEN NULL
            ELSE NULLIF(regexp_extract(payload,
                 '<type>([^<]*)</type>', 1), '') END AS form_type,
       NOT corrupt AS xml_ok
FROM cls
"""

ORACLE["xml_quarantine_report"] = f"""
WITH src AS ({_XML_PAYLOAD}),
cls AS (
  SELECT event_type AS src, payload, {_XML_CORRUPT} AS corrupt FROM src),
reasons AS (
  SELECT src,
         CASE WHEN corrupt THEN 'malformed_xml'
              WHEN TRY_CAST(NULLIF(regexp_extract(payload,
                   '<k>([^<]*)</k>', 1), '') AS INTEGER) IS NULL
                   THEN 'missing_field_k'
              ELSE 'accepted' END AS reason
  FROM cls),
per AS (
  SELECT src, reason, CAST(COUNT(*) AS BIGINT) AS n
  FROM reasons GROUP BY src, reason),
tot AS (
  SELECT src, CAST(SUM(n) AS BIGINT) AS n_src FROM per GROUP BY src)
SELECT per.src, reason, n, n_src,
       CAST(n AS DOUBLE) / CAST(n_src AS DOUBLE) AS share
FROM per JOIN tot USING (src)
ORDER BY src, reason
"""


# L5d: recall-vs-cost eval — capped found-pair count over the exact
# all-pairs truth, plus the adaptive window and honest-cap mass.
ORACLE["embedding_near_dup_recall_eval"] = f"""
WITH {_FB_CTE},
e AS MATERIALIZED (
  SELECT vec_id AS id, embedding AS vec,
         {_CAPPED_COLS}
  FROM embeddings),
{_CAPPED_RANKS},
cand AS MATERIALIZED (
  {_SNM_PASSES}),
p AS (
  SELECT cand.id_a, cand.id_b, a.vec AS vec_a, b.vec AS vec_b
  FROM cand JOIN e a ON a.id = cand.id_a JOIN e b ON b.id = cand.id_b),
s AS (SELECT id_a, id_b, {_COS_AB} AS cos_sim FROM p),
ex AS (
  SELECT a.embedding AS vec_a, b.embedding AS vec_b
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
met AS (
  SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_vectors,
         CAST({_SNM_W} AS BIGINT) AS window_used,
         CAST({_FB} AS BIGINT) AS probe_bits_used,
         CAST((SELECT COUNT(*) FROM ex WHERE {_COS_AB} >= 0.35) AS BIGINT)
           AS true_pairs,
         CAST((SELECT COUNT(*) FROM s WHERE cos_sim >= 0.35) AS BIGINT)
           AS found_pairs,
         CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS compared_pairs)
SELECT n_vectors, window_used, probe_bits_used, true_pairs, found_pairs,
       CASE WHEN true_pairs > 0
            THEN CAST(found_pairs AS DOUBLE) / CAST(true_pairs AS DOUBLE)
       END AS recall,
       compared_pairs,
       CAST((SELECT COUNT(*) * (COUNT(*) - 1) // 2 FROM e) AS BIGINT)
         - compared_pairs AS dropped_pairs
FROM met
"""


def _byte_bpe_oracle() -> str:
    """L38c twin: the identical pretokenize → byte-map → merge-chain
    encode, generated from the same committed vocabulary. The byte
    mapping is a 256-row VALUES lookup joined positionally
    (generate_subscripts keeps byte order; string_agg ORDER BY i
    rebuilds the segment string); the merge chain is the same 64
    nested REPLACEs the Spark plan runs."""
    from dimagi_data_platform_spark.functions.bytebpe import (
        _HEX_TO_SYM,
        PRETOKEN_RE,
        SEP,
        VOCAB_MERGES,
    )

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    lookup = ",\n    ".join(
        f"({q(hx)}, {q(sym)})" for hx, sym in _HEX_TO_SYM.items()
    )
    seg_expr = "seg"
    for a, b in VOCAB_MERGES:
        pat = " " + a + SEP + b + " "
        rep = " " + a + b + " "
        seg_expr = f"REPLACE({seg_expr}, {q(pat)}, {q(rep)})"
    return f"""
WITH bl(hx, sym) AS (VALUES
    {lookup}),
words AS (
  SELECT doc_id, unnest(regexp_extract_all(text, {q(PRETOKEN_RE)})) AS w
  FROM documents),
wc AS (
  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
  FROM words GROUP BY doc_id, w),
dw AS (SELECT DISTINCT w FROM wc),
hx AS (
  SELECT w, regexp_extract_all(hex(encode(w)), '..') AS ps FROM dw),
bytes AS (
  SELECT w, unnest(ps) AS p, generate_subscripts(ps, 1) AS i FROM hx),
seg0 AS (
  SELECT bytes.w,
         '  ' || string_agg(bl.sym, '  ' ORDER BY bytes.i) || '  ' AS seg
  FROM bytes JOIN bl ON bl.hx = bytes.p
  GROUP BY bytes.w),
tok AS (
  SELECT w, CAST(len(string_split(trim({seg_expr}), '  ')) AS BIGINT) AS nt
  FROM seg0)
SELECT wc.doc_id,
       CAST(SUM(wc.c) AS BIGINT) AS n_pretokens,
       CAST(SUM(wc.c * tok.nt) AS BIGINT) AS n_tokens
FROM wc JOIN tok ON tok.w = wc.w
GROUP BY wc.doc_id
"""


ORACLE["byte_bpe_token_counts"] = _byte_bpe_oracle()
