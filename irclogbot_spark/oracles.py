"""DuckDB oracle SQL — the ANSI twin of every SQL-expressible query.

Each entry here must stay in lockstep with the same-named Spark
builder in irclogbot_spark.queries: same column names (the driver
sorts columns by name before value-hashing), same value semantics.

Cross-engine determinism rules used throughout (see queries.py):
* Money/measure aggregates go through DECIMAL casts (exact, order-
  independent) and only the *final* value is cast to DOUBLE — a
  straight SUM(double) would depend on partition/visit order.
* Averages are CAST(SUM(decimal) AS DOUBLE) / COUNT — one double
  division, identical in both engines — never a native AVG.
* Epoch arithmetic uses whole microseconds as BIGINT.
* Every LIMIT is preceded by a total ORDER BY (unique tiebreak).
* DuckDB's '/' on integers is float division; integer division is
  written '//' here and 'div'/floor on the Spark side.
"""

from __future__ import annotations

MSG_PAT = r":([^!]+)!~?([^@]+)@(\S+) PRIVMSG (\S+) :(.+)"
#: the reference applies MSG_PAT via re.match() (irclogbot.py:131) —
#: anchored at position 0; every oracle application mirrors that
A_MSG_PAT = "^" + MSG_PAT

# ---------------------------------------------------------------- synth twin
# Oracle twin of irclogbot_spark.synth.synthesize_irc_lines.
RAW_LINES_CTE = """
raw AS (
  SELECT ts,
    CASE
      WHEN event_id % 97 = 13 THEN 'PING :irc.example.net'
      WHEN event_id % 97 = 27 THEN ':irc.example.net NOTICE * :*** Looking up your hostname...'
      WHEN event_id % 97 = 41 THEN '   '
      WHEN event_id % 97 = 55 THEN ':verylongnick12345678!~x@h3.example.com PRIVMSG #noise :dropped'
      ELSE ':u' || CAST(user_id AS VARCHAR) || '!~u' || CAST(user_id AS VARCHAR)
           || '@h' || CAST(user_id % 7 AS VARCHAR) || '.example.com PRIVMSG #'
           || event_type || ' :'
           || CASE WHEN event_id % 11 = 0 THEN 'ACTION ' || props ELSE props END
    END AS value
  FROM events
)"""

# Oracle twin of ingest.parse_pipeline over the synthesized lines
# (F1 blank, F2 PING, P1 parse, F3 match, P3 ACTION, F4 nick, P4
# second-truncated event time, H1 sha-256 scale id).
IRCLOG_CTE = (
    RAW_LINES_CTE
    + f""",
trimmed AS (
  SELECT ts, trim(value) AS value FROM raw
  WHERE length(trim(value)) > 0 AND NOT contains(trim(value), 'PING :')
),
parsed AS (
  SELECT ts,
    regexp_extract(value, '{A_MSG_PAT}', 1) AS nick,
    regexp_extract(value, '{A_MSG_PAT}', 2) AS usr,
    regexp_extract(value, '{A_MSG_PAT}', 3) AS host,
    regexp_extract(value, '{A_MSG_PAT}', 4) AS channel,
    regexp_extract(value, '{A_MSG_PAT}', 5) AS remark
  FROM trimmed
),
normalized AS (
  SELECT channel, nick, date_trunc('second', ts) AS posted,
    CASE WHEN remark LIKE 'ACTION %' THEN replace(remark, 'ACTION ', '/me ') ELSE remark END AS remark,
    usr, host
  FROM parsed
  WHERE nick <> '' AND channel <> '' AND remark <> '' AND length(nick) < 17
),
irclog AS (
  SELECT channel, nick, posted, remark,
    sha256(array_to_string(list_sort([channel, nick, remark]), chr(31))) AS id,
    usr AS "user", host
  FROM normalized
)"""
)

# ------------------------------------------------------- decimal-sum helpers
def dsum(expr: str, prec: str = "DECIMAL(12,2)") -> str:
    return f"CAST(SUM(CAST({expr} AS {prec})) AS DOUBLE)"


def dsum_raw(expr: str) -> str:
    """Sum an already-exact decimal expression; cast only the final
    result. Never re-round mid-computation: Spark rounds decimal
    casts HALF_UP, DuckDB HALF_EVEN — per-row rounding of .xx50 ties
    would diverge."""
    return f"CAST(SUM({expr}) AS DOUBLE)"


def davg(expr: str, prec: str = "DECIMAL(12,2)") -> str:
    return f"CAST(SUM(CAST({expr} AS {prec})) AS DOUBLE) / COUNT(*)"


REVENUE = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
)

HUMAN_FMT_SQL = """CASE
  WHEN {b} = 0 THEN '0 bytes'
  WHEN {b} = 1 THEN '1 byte'
  WHEN {b} > 1 AND {b} < 1024 THEN printf('%.0f', CAST({b} AS DOUBLE)) || ' bytes'
  WHEN {b} >= 1024 AND {b} < 1048576 THEN printf('%.0f', CAST({b} AS DOUBLE) / 1024.0) || ' K'
  WHEN {b} >= 1048576 AND {b} < 1073741824 THEN printf('%.1f', CAST({b} AS DOUBLE) / 1048576.0) || ' MB'
  WHEN {b} >= 1073741824 AND {b} < 1099511627776 THEN printf('%.2f', CAST({b} AS DOUBLE) / 1073741824.0) || ' GB'
  WHEN {b} >= 1099511627776 AND {b} < 1125899906842624 THEN printf('%.2f', CAST({b} AS DOUBLE) / 1099511627776.0) || ' TB'
  WHEN {b} >= 1125899906842624 THEN printf('%.2f', CAST({b} AS DOUBLE) / 1125899906842624.0) || ' PB'
  ELSE NULL END"""


ORACLES: dict[str, str] = {}

# ------------------------------------------------------------ ingest family
ORACLES["ingest_parse"] = f"""
WITH {IRCLOG_CTE}
SELECT channel, nick, posted, remark, id, "user", host FROM irclog
"""

ORACLES["ingest_filter_stats"] = f"""
WITH {RAW_LINES_CTE},
t AS (SELECT trim(value) AS value FROM raw)
SELECT
  COUNT(*) AS n_raw,
  COUNT(*) FILTER (WHERE length(value) > 0) AS n_nonempty,
  COUNT(*) FILTER (WHERE length(value) > 0 AND NOT contains(value, 'PING :')) AS n_data,
  COUNT(*) FILTER (WHERE length(value) > 0 AND NOT contains(value, 'PING :')
    AND regexp_extract(value, '{A_MSG_PAT}', 1) <> ''
    AND regexp_extract(value, '{A_MSG_PAT}', 4) <> ''
    AND regexp_extract(value, '{A_MSG_PAT}', 5) <> '') AS n_matched,
  COUNT(*) FILTER (WHERE length(value) > 0 AND NOT contains(value, 'PING :')
    AND regexp_extract(value, '{A_MSG_PAT}', 1) <> ''
    AND regexp_extract(value, '{A_MSG_PAT}', 4) <> ''
    AND regexp_extract(value, '{A_MSG_PAT}', 5) <> ''
    AND length(regexp_extract(value, '{A_MSG_PAT}', 1)) < 17) AS n_recorded
FROM t
"""

ORACLES["ingest_dedup"] = f"""
WITH {IRCLOG_CTE}
SELECT channel, nick, remark, id, COUNT(*) AS n_deliveries, MIN(posted) AS first_posted
FROM irclog GROUP BY channel, nick, remark, id
"""

ORACLES["ingest_action_rows"] = f"""
WITH {IRCLOG_CTE}
SELECT channel, COUNT(*) AS n_me FROM irclog WHERE remark LIKE '/me %' GROUP BY channel
"""

ORACLES["channels_catalog"] = f"""
WITH {IRCLOG_CTE},
ch AS (SELECT DISTINCT channel FROM irclog)
SELECT channel,
  CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY channel) - 1) / 40) AS INT) AS bot_slice
FROM ch
"""

# ------------------------------------------------- implied ES query surface
ORACLES["log_term_time_filter"] = f"""
WITH {IRCLOG_CTE}
SELECT 'term_time' AS variant, channel, nick, posted, remark, id FROM irclog
WHERE channel = '#purchase'
  AND posted >= TIMESTAMP '2024-01-08 00:00:00' AND posted < TIMESTAMP '2024-01-14 00:00:00'
UNION ALL
SELECT 'fulltext' AS variant, channel, nick, posted, remark, id FROM irclog
WHERE remark LIKE '%"k": 4%'
"""

# Physical-layout twin: the day-partitioned write re-derives the same
# rows (day == date(posted), so the partition filter is implied by the
# posted range); the scan-form SQL doubles as its oracle.
ORACLES["log_term_time_partitioned"] = ORACLES["log_term_time_filter"]

ORACLES["log_point_lookup"] = f"""
WITH {IRCLOG_CTE}
SELECT id, channel, nick, remark, COUNT(*) AS n FROM irclog
WHERE id = (SELECT MIN(id) FROM irclog)
GROUP BY id, channel, nick, remark
"""

ORACLES["log_msgs_per_channel_day"] = f"""
WITH {IRCLOG_CTE}
SELECT channel, CAST(date_trunc('day', posted) AS DATE) AS day, COUNT(*) AS n_msgs,
  COUNT(DISTINCT nick) AS n_nicks
FROM irclog GROUP BY channel, CAST(date_trunc('day', posted) AS DATE)
"""

# Physical-layout twin: the bucketed-table query re-derives the exact
# same histogram, so the scan-form SQL doubles as its oracle (the
# bm25_indexed two-dataflows-one-hash convention).
ORACLES["log_channel_day_bucketed"] = ORACLES["log_msgs_per_channel_day"]

ORACLES["log_top_nicks"] = f"""
WITH {IRCLOG_CTE}
SELECT nick, COUNT(*) AS n_msgs FROM irclog
GROUP BY nick ORDER BY n_msgs DESC, nick LIMIT 10
"""

ORACLES["log_nick_rank_per_channel"] = f"""
WITH {IRCLOG_CTE},
cnt AS (SELECT channel, nick, COUNT(*) AS n_msgs FROM irclog GROUP BY channel, nick)
SELECT channel, nick, n_msgs, rnk FROM (
  SELECT channel, nick, n_msgs,
    RANK() OVER (PARTITION BY channel ORDER BY n_msgs DESC, nick) AS rnk
  FROM cnt
) WHERE rnk <= 3
"""

ORACLES["log_inter_message_gap"] = f"""
WITH {IRCLOG_CTE},
g AS (
  SELECT channel,
    epoch_us(posted) - LAG(epoch_us(posted)) OVER (PARTITION BY channel ORDER BY posted, id) AS gap_us
  FROM irclog
)
SELECT channel, COUNT(gap_us) AS n_gaps,
  CAST(SUM(gap_us) AS DOUBLE) / COUNT(gap_us) / 1000000.0 AS avg_gap_s,
  MAX(gap_us) // 1000000 AS max_gap_s
FROM g WHERE gap_us IS NOT NULL GROUP BY channel
"""

# --------------------------------------------------------------- TPC-H-ish
ORACLES["tpch_q1_pricing_summary"] = f"""
SELECT l_returnflag, l_linestatus,
  {dsum('l_quantity')} AS sum_qty,
  {dsum('l_extendedprice')} AS sum_base_price,
  {dsum_raw(REVENUE)} AS sum_disc_price,
  {dsum_raw(f"{REVENUE} * (1 + CAST(l_tax AS DECIMAL(4,2)))")} AS sum_charge,
  {davg('l_quantity')} AS avg_qty,
  {davg('l_extendedprice')} AS avg_price,
  {davg('l_discount', 'DECIMAL(4,2)')} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

ORACLES["tpch_q3_shipping_priority"] = f"""
SELECT l_orderkey, {dsum_raw(REVENUE)} AS revenue, o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '2000-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""

ORACLES["tpch_q5_local_supplier"] = f"""
SELECT n_name, {dsum_raw(REVENUE)} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""

ORACLES["join_top_customers"] = f"""
SELECT c_custkey, c_name, n_name,
  {dsum('o_totalprice')} AS total_spend, COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, n_name
ORDER BY total_spend DESC, c_custkey LIMIT 10
"""

ORACLES["join_anti_customers_no_orders"] = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000
)
"""

ORACLES["join_semi_parts_ordered"] = """
SELECT p_brand, COUNT(*) AS n_parts FROM part
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
GROUP BY p_brand
"""

ORACLES["agg_rollup_sets"] = f"""
SELECT 'rollup' AS variant, l_returnflag, l_linestatus,
  {dsum('l_quantity')} AS sum_qty, COUNT(*) AS n_items
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
UNION ALL
SELECT 'cube' AS variant, l_returnflag, l_linestatus,
  {dsum('l_quantity')} AS sum_qty, COUNT(*) AS n_items
FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
UNION ALL
SELECT 'grouping_sets' AS variant, l_returnflag, l_linestatus,
  {dsum('l_quantity')} AS sum_qty, COUNT(*) AS n_items
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
"""

ORACLES["set_ops"] = """
SELECT 'distinct' AS variant, custkey FROM (
  SELECT custkey FROM (
    (SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
     INTERSECT
     SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000)
    UNION
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
  )
  EXCEPT
  SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000
)
UNION ALL
SELECT 'bag' AS variant, custkey FROM (
  (SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
   UNION ALL
   SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000)
  EXCEPT ALL
  SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
"""

ORACLES["scalar_human_fmt"] = f"""
WITH b AS (SELECT CAST(FLOOR(o_totalprice * 1024) AS BIGINT) AS nbytes FROM orders)
SELECT {HUMAN_FMT_SQL.format(b='nbytes')} AS size_label, COUNT(*) AS n
FROM b GROUP BY 1
"""

# ------------------------------------------------------------------- events
ORACLES["events_session_window"] = """
WITH e AS (
  SELECT user_id, event_id, ts, epoch_us(ts) AS tus FROM events
),
flagged AS (
  SELECT user_id, ts, tus,
    CASE WHEN tus - LAG(tus) OVER w > 1800000000 OR LAG(tus) OVER w IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
),
sessions AS (
  SELECT user_id, ts,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY tus) AS session_seq
  FROM flagged
)
SELECT user_id, MIN(ts) AS session_start,
  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
  COUNT(*) AS n_events
FROM sessions GROUP BY user_id, session_seq
"""

ORACLES["events_windows"] = f"""
SELECT 'tumbling' AS variant, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,
  event_type, COUNT(*) AS n_events, {dsum('value')} AS total_value
FROM events GROUP BY date_trunc('hour', ts), event_type
UNION ALL
SELECT 'sliding' AS variant, win_start, event_type, COUNT(*) AS n_events,
  {dsum('value')} AS total_value
FROM (
  SELECT event_type, value,
    date_trunc('hour', ts) - k * INTERVAL 1 HOUR AS win_start
  FROM events, UNNEST([0, 1]) AS u(k)
) GROUP BY win_start, event_type
"""

ORACLES["events_json_extract"] = """
SELECT event_type,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_k,
  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
  COUNT(*) AS n
FROM events GROUP BY event_type
"""

# ---------------------------------------------------------------- documents
TOKENS = r"len(regexp_extract_all(text, '\S+'))"
STOPS = r"len(regexp_extract_all(lower(text), '\b(the|a|an|and|or|of|to|in|is|it)\b'))"

BPE_TOKENS = r"len(regexp_extract_all(text, '\w+|[^\w\s]'))"

ORACLES["docs_token_stats"] = f"""
SELECT lang, COUNT(*) AS n_docs,
  CAST(SUM({TOKENS}) AS BIGINT) AS total_tokens,
  CAST(SUM({BPE_TOKENS}) AS BIGINT) AS total_bpe_tokens,
  CAST(SUM({TOKENS}) AS DOUBLE) / COUNT(*) AS avg_tokens,
  CAST(CAST(SUM(length(text)) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_chars
FROM documents GROUP BY lang
"""

ORACLES["docs_quality"] = f"""
WITH {{rep_ctes}},
q AS (
  SELECT doc_id,
    {TOKENS} AS n_tokens,
    {STOPS} AS n_stopwords,
    CAST({STOPS} AS DOUBLE) / {TOKENS} AS stop_ratio,
    CASE WHEN {TOKENS} >= 5 AND {TOKENS} <= 2000
          AND CAST({STOPS} AS DOUBLE) / {TOKENS} > 0.01 THEN 1 ELSE 0 END AS passes
  FROM documents WHERE {TOKENS} > 0
)
SELECT q.doc_id, q.n_tokens, q.n_stopwords, q.stop_ratio, q.passes,
  rep.n_top_grams, rep.top2gram_frac, rep.n_dup_grams, rep.dup5gram_frac
FROM q JOIN rep ON rep.doc_id = q.doc_id
"""

# BM25 twin — expression tree mirrors functions.text.bm25_rank
# EXACTLY (association order matters for double equality): rational
# idf (no ln — libm ulp hazard), per-term tf from list_filter,
# corpus stats cross-joined as one row.
ORACLES["docs_bm25_search"] = r"""
WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
base AS (
  SELECT doc_id, len(toks) AS dl,
    len(list_filter(toks, x -> x = 'the')) AS tf0,
    len(list_filter(toks, x -> x = 'data')) AS tf1
  FROM t
),
stats AS (
  SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n,
    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1
  FROM base
)
SELECT doc_id,
  ((CAST(n - df0 AS DOUBLE) + 0.5) / (df0 + 0.5))
    * ((tf0 * CAST(1.2 + 1.0 AS DOUBLE)) / (tf0 + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / avgdl)))
  + ((CAST(n - df1 AS DOUBLE) + 0.5) / (df1 + 0.5))
    * ((tf1 * CAST(1.2 + 1.0 AS DOUBLE)) / (tf1 + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / avgdl))) AS score
FROM base, stats
ORDER BY score DESC, doc_id LIMIT 10
"""


# --------------------------------------------------------------- embeddings
ORACLES["emb_knn_join"] = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id IN (0, 1, 2)
),
scored AS (
  SELECT q.query_id, e.vec_id,
    list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
      / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
         * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
)
SELECT query_id, vec_id, cosine, knn_rank FROM (
  SELECT query_id, vec_id, cosine,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS knn_rank
  FROM scored
) WHERE knn_rank <= 5
"""

def _srp_bucket_sql(dim: int = 64, n_planes: int = 8):
    """SQL builder for the SRP bucket id of a vector expression: the
    seeded Gaussian hyperplanes (driver-side plan constants) inlined
    as double literals (repr() round-trips exactly), sign-tested on
    the same IEEE dot products the Spark side computes."""
    from irclogbot_spark.operators.similarity import random_planes

    planes = random_planes(dim, n_planes)
    lits = ["[" + ", ".join(repr(x) for x in p) + "]" for p in planes]

    def bucket(v: str) -> str:
        return " + ".join(
            f"(CASE WHEN list_dot_product({v}, {lits[j]}) > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(n_planes)
        )

    return bucket


def _ann_core_ctes(k: int = 5, n_planes: int = 8, probes: int = 9, dim: int = 64) -> str:
    """CTE text replicating operators.similarity.ann_topk bit-for-bit.

    The SRP hyperplanes are deterministic driver-side constants
    (seeded Gaussian, part of the plan, not data) — inlined here as
    double literals (repr() round-trips exactly), which is what makes
    the approximate path oracle-checkable: bucket assignment is a
    sign test on the same IEEE dot products, multi-probe is the
    bucket plus its hamming-1 neighbors, and only candidates are
    cosine-scored."""
    bucket = _srp_bucket_sql(dim, n_planes)
    probe_elems = ["b"] + [f"xor(b, {1 << j})" for j in range(n_planes)]
    probe_list = "[" + ", ".join(probe_elems[:probes]) + "]"
    return f"""
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cb AS (SELECT vec_id, v, {bucket("v")} AS bucket FROM e),
qb AS (SELECT vec_id AS query_id, v AS qv, {bucket("v")} AS b FROM e WHERE vec_id IN (0, 1, 2)),
qprobe AS (SELECT query_id, qv, unnest({probe_list}) AS bucket FROM qb),
ann_scored AS (
  SELECT DISTINCT p.query_id, c.vec_id,
    list_dot_product(c.v, p.qv)
      / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(p.qv, p.qv))) AS cosine
  FROM cb c JOIN qprobe p ON c.bucket = p.bucket AND c.vec_id <> p.query_id
),
ann AS (
  SELECT query_id, vec_id, cosine, knn_rank FROM (
    SELECT query_id, vec_id, cosine,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS knn_rank
    FROM ann_scored
  ) WHERE knn_rank <= {k}
)"""


ORACLES["emb_ann_topk"] = f"""
WITH {_ann_core_ctes()}
SELECT query_id, vec_id, cosine, knn_rank FROM ann
"""

_NEARDUP_BUCKET = _srp_bucket_sql()

ORACLES["emb_cosine_neardup"] = f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
planted AS (
  SELECT vec_id + 100000 AS vec_id, list_transform(v, x -> x * 1.001 + 0.001) AS v
  FROM base WHERE vec_id < 5
),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
bkt AS (SELECT vec_id, v, {_NEARDUP_BUCKET("v")} AS bucket FROM corpus),
bsz AS (SELECT bucket, COUNT(*) AS n FROM bkt GROUP BY bucket)
SELECT a.vec_id AS d1, b.vec_id AS d2,
  list_dot_product(a.v, b.v)
    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
FROM bkt a
JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
JOIN bsz ON bsz.bucket = a.bucket
WHERE bsz.n <= 1000
  AND list_dot_product(a.v, b.v)
    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.95
"""

def _ivf_topk_sql(
    k: int = 5, n_cells: int = 16, n_iter: int = 5, n_probe: int = 4
) -> str:
    """ANSI twin of operators.similarity.ivf_topk with the LEARNED
    centroids inlined as double literals. The trainer is a pure
    function of the corpus (integer-quantized accumulation — see
    train_ivf_centroids), so re-training via the bit-identical driver
    replica over the same parquet the driver compares at (sf0.01)
    yields exactly the centroids the Spark query trains at query
    time; repr() round-trips the doubles exactly.

    Built lazily inside oracle_sql() (not at import): the training
    corpus is whatever SF the comparison runs at —
    $SPARK_GRAFT_ORACLE_SF_DIR, defaulting to the driver's sf0.01;
    the local parity tests point it at their own SF."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    return _ivf_topk_sql_for(sf_dir, k, n_cells, n_iter, n_probe)


def _ivf_topk_sql_for(
    sf_dir: str, k: int, n_cells: int, n_iter: int, n_probe: int
) -> str:
    import os

    if (sf_dir, k, n_cells, n_iter, n_probe) in _IVF_SQL_CACHE:
        return _IVF_SQL_CACHE[(sf_dir, k, n_cells, n_iter, n_probe)]

    import duckdb

    from irclogbot_spark.operators.similarity import train_ivf_centroids_local

    path = os.path.join(sf_dir, "embeddings.parquet")
    rows = duckdb.sql(
        f"SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM '{path}' ORDER BY vec_id"
    ).fetchall()
    cents = train_ivf_centroids_local(
        [(r[0], list(r[1])) for r in rows], n_cells, n_iter
    )
    # e-notation literals parse directly as DOUBLE and round-trip
    # exactly; bare decimals go through DECIMAL and can land 1 ulp off
    # (see _semantic_dedup_sql). Here the literal dots only ORDER
    # cells/probes, but exact constants keep near-ties impossible to
    # flip across engines.
    lits = ["[" + ", ".join(f"{x:.17e}" for x in c) + "]" for c in cents]
    dots_list = "[" + ", ".join(f"list_dot_product(v, {l})" for l in lits) + "]"
    negdot_structs = "[" + ", ".join(
        f"{{'negdot': -list_dot_product(qv, {lits[j]}), 'cell': {j}}}"
        for j in range(n_cells)
    ) + "]"
    sql = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ca AS (SELECT vec_id, v, {dots_list} AS dots FROM e),
cb AS (SELECT vec_id, v,
         CAST(list_position(dots, list_max(dots)) - 1 AS INT) AS cell FROM ca),
qd AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
qcell AS (SELECT query_id, qv, unnest({negdot_structs}) AS pc FROM qd),
qprobe AS (
  SELECT query_id, qv, cell FROM (
    SELECT query_id, qv, pc.cell AS cell,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY pc.negdot, pc.cell) AS rn
    FROM qcell
  ) WHERE rn <= {n_probe}
),
ivf_scored AS (
  SELECT q.query_id, c.vec_id,
    list_dot_product(c.v, q.qv)
      / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
  FROM cb c JOIN qprobe q ON c.cell = q.cell AND c.vec_id <> q.query_id
)
SELECT query_id, vec_id, cosine, knn_rank FROM (
  SELECT query_id, vec_id, cosine,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS knn_rank
  FROM ivf_scored
) WHERE knn_rank <= {k}
"""
    _IVF_SQL_CACHE[(sf_dir, k, n_cells, n_iter, n_probe)] = sql
    return sql


#: (sf_dir, params) -> SQL — the replica trainer is a few seconds of
#: pure-Python float work; build each variant once per process.
_IVF_SQL_CACHE: dict[tuple, str] = {}


def _semantic_dedup_sql(
    threshold: float = 0.4, n_cells: int = 16, n_iter: int = 5, max_cell: int = 10_000
) -> str:
    """ANSI twin of operators.semdedup.semantic_dedup with the LEARNED
    centroids inlined (same replica-trainer recipe as _ivf_topk_sql):
    identical cell assignment, cosine-to-centroid rank (ASC, id ASC)
    within eligible cells, pairwise cosine of each member against its
    lower-ranked cellmates, closest-partner pick via ROW_NUMBER
    (cosine DESC, partner ASC). Floats match bit-for-bit because both
    engines fold the dot products sequentially."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    key = ("semdedup", sf_dir, threshold, n_cells, n_iter, max_cell)
    if key in _IVF_SQL_CACHE:
        return _IVF_SQL_CACHE[key]

    import duckdb

    from irclogbot_spark.operators.similarity import train_ivf_centroids_local

    path = os.path.join(sf_dir, "embeddings.parquet")
    rows = duckdb.sql(
        f"SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM '{path}' ORDER BY vec_id"
    ).fetchall()
    cents = train_ivf_centroids_local(
        [(r[0], list(r[1])) for r in rows], n_cells, n_iter
    )
    # two bit-exactness rules learned the hard way (parity-tested):
    # 1. centroid literals MUST be e-notation — a bare decimal literal
    #    parses as DECIMAL and its DECIMAL->DOUBLE conversion can land
    #    1 ulp off repr()'s round-trip;
    # 2. the dot must run the data x data kernel — list_dot_product
    #    against an inline constant list takes a different evaluation
    #    path that deviates in the last ulp, so the centroids go
    #    through a VALUES table and are JOINED in.
    values = ", ".join(
        "({j}, [{xs}]::DOUBLE[])".format(
            j=j, xs=", ".join(f"{x:.17e}" for x in c)
        )
        for j, c in enumerate(cents)
    )
    cos = (
        "list_dot_product(hi.v, lo.v)"
        " / (sqrt(list_dot_product(hi.v, hi.v)) * sqrt(list_dot_product(lo.v, lo.v)))"
    )
    sql = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (SELECT * FROM (VALUES {values}) AS t(cell, cvec)),
ad AS (SELECT e.vec_id, e.v, c.cell, list_dot_product(e.v, c.cvec) AS d
       FROM e CROSS JOIN cents c),
cb AS (SELECT vec_id, v, cell, d,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell ASC) AS arn
       FROM ad),
cc AS (SELECT vec_id, v, cell,
         d / sqrt(list_dot_product(v, v)) AS cent_cos FROM cb WHERE arn = 1),
cn AS (SELECT *, COUNT(*) OVER (PARTITION BY cell) AS cell_n FROM cc),
rk AS (SELECT vec_id, v, cell, cent_cos,
         CASE WHEN cell_n <= {max_cell} THEN
           ROW_NUMBER() OVER (PARTITION BY cell ORDER BY cent_cos ASC, vec_id ASC)
         END AS rnk
       FROM cn),
pairs AS (
  SELECT hi.vec_id AS dup_id, lo.vec_id AS partner, {cos} AS cos
  FROM rk hi JOIN rk lo ON lo.cell = hi.cell AND lo.rnk < hi.rnk
  WHERE {cos} >= {threshold}
),
best AS (
  SELECT dup_id, partner AS dup_of, cos AS dup_cosine
  FROM (SELECT dup_id, partner, cos,
          ROW_NUMBER() OVER (PARTITION BY dup_id ORDER BY cos DESC, partner ASC) AS rn
        FROM pairs)
  WHERE rn = 1
)
SELECT r.vec_id, r.cell, r.cent_cos,
  b.dup_of IS NULL AS keep, b.dup_of, b.dup_cosine
FROM rk r LEFT JOIN best b ON b.dup_id = r.vec_id
"""
    _IVF_SQL_CACHE[key] = sql
    return sql


ORACLES["emb_ann_recall"] = f"""
WITH {_ann_core_ctes()},
exact_scored AS (
  SELECT q.query_id, c.vec_id,
    list_dot_product(c.v, q.qv)
      / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
  FROM e c JOIN qb q ON c.vec_id <> q.query_id
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS knn_rank
    FROM exact_scored
  ) WHERE knn_rank <= 5
),
hits AS (
  SELECT a.query_id, COUNT(*) AS n_hits
  FROM ann a JOIN exact x ON a.query_id = x.query_id AND a.vec_id = x.vec_id
  GROUP BY a.query_id
),
base AS (SELECT DISTINCT vec_id AS query_id FROM embeddings WHERE vec_id IN (0, 1, 2))
SELECT base.query_id,
  COALESCE(n_hits, 0) AS n_hits,
  CAST(COALESCE(n_hits, 0) AS DOUBLE) / 5.0 AS recall_at_5
FROM base LEFT JOIN hits ON base.query_id = hits.query_id
"""


# ------------------------------------------------- dedup / text operators
_SHINGLES_CTE = r"""
t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle
       FROM t, UNNEST(range(1, greatest(len(toks) - 3, 1))) AS r(i)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
"""

ORACLES["docs_neardup_jaccard"] = f"""
WITH {_SHINGLES_CTE}
SELECT d1, d2, CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) AS jaccard
FROM pairs
JOIN sizes s1 ON s1.doc_id = d1
JOIN sizes s2 ON s2.doc_id = d2
WHERE CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) >= 0.8
"""

# Connected components over the exact-Jaccard pair set, as a
# recursive label propagation: walk enumerates every (node,
# reachable-label) pair along symmetrized edges; MIN(label) per node
# is the component minimum — the same fixpoint the engine's
# iterative min-label propagation (operators.dedup.neardup_components)
# converges to.
_COMPONENTS_CTE = f"""
jac AS (
  SELECT d1, d2
  FROM pairs
  JOIN sizes s1 ON s1.doc_id = d1
  JOIN sizes s2 ON s2.doc_id = d2
  WHERE CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) >= 0.8
),
sym AS (SELECT d1 AS a, d2 AS b FROM jac UNION SELECT d2 AS a, d1 AS b FROM jac),
nodes AS (SELECT DISTINCT a AS node FROM sym),
walk(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT s.b, w.label FROM walk w JOIN sym s ON s.a = w.node
),
comp AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node)
"""

ORACLES["docs_neardup_clusters"] = f"""
WITH RECURSIVE {_SHINGLES_CTE}, {_COMPONENTS_CTE}
SELECT doc_id, cluster_id FROM comp
"""

ORACLES["docs_dedup_pipeline"] = f"""
WITH RECURSIVE {_SHINGLES_CTE}, {_COMPONENTS_CTE},
fp AS (SELECT doc_id, md5(text) AS fingerprint FROM documents),
ek AS (SELECT fingerprint, MIN(doc_id) AS exact_keeper FROM fp GROUP BY fingerprint),
wx AS (
  SELECT f.doc_id, e.exact_keeper, COALESCE(c.cluster_id, f.doc_id) AS cluster_id
  FROM fp f
  JOIN ek e ON f.fingerprint = e.fingerprint
  LEFT JOIN comp c ON c.doc_id = f.doc_id
)
SELECT doc_id,
  doc_id = LEAST(exact_keeper, cluster_id) AS kept,
  CASE WHEN doc_id = LEAST(exact_keeper, cluster_id) THEN 'keeper'
       WHEN exact_keeper < doc_id THEN 'exact_duplicate'
       ELSE 'near_duplicate' END AS dedup_reason,
  LEAST(exact_keeper, cluster_id) AS keeper_id
FROM wx
"""

def _minhash_lsh_sql(
    num_perm: int = 32, bands: int = 16, n: int = 5, threshold: float = 0.8
) -> str:
    """ANSI twin of the FULL MinHash+LSH pipeline under md5_hash31
    (operators.dedup.minhash_neardup_pairs with hash_fn=md5_hash31):
    shingling, 31-bit portable shingle hash, the num_perm affine
    signature lanes (permutation constants inlined — driver-side plan
    constants, same as the SRP planes), band grouping, the >1 and
    <=1000 bucket caps, in-bucket pair expansion, and exact Jaccard
    over the HASHED shingle sets for candidates only."""
    from irclogbot_spark.operators.dedup import _MH_PRIME, _permutation_family

    perms = _permutation_family(num_perm, seed=42)
    rows = num_perm // bands
    lanes = ",\n    ".join(
        f"MIN(({a} * h + {b}) % {_MH_PRIME}) AS s{i}" for i, (a, b) in enumerate(perms)
    )

    def band_key(j: int) -> str:
        return " || ',' || ".join(
            f"CAST(s{j * rows + r} AS VARCHAR)" for r in range(rows)
        )

    band_selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {j} AS band_idx, {band_key(j)} AS band_key FROM sig"
        for j in range(bands)
    )
    jac = "CAST(n_common AS DOUBLE) / (s1.ns + s2.ns - n_common)"
    return rf"""
WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
el AS (SELECT doc_id, toks FROM t WHERE len(toks) >= {n}),
msh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+{n - 1}], ' ') AS shingle
        FROM el, UNNEST(range(1, len(toks) - {n - 2})) AS r(i)),
hs AS (SELECT DISTINCT doc_id,
         CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % {_MH_PRIME} AS h
       FROM msh),
sig AS (SELECT doc_id, {lanes} FROM hs GROUP BY doc_id),
banded AS (
  {band_selects}
),
bsz AS (SELECT band_idx, band_key, COUNT(*) AS nb FROM banded GROUP BY band_idx, band_key),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM banded a
  JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
  JOIN bsz ON bsz.band_idx = a.band_idx AND bsz.band_key = a.band_key
  WHERE bsz.nb <= 1000
),
inter AS (
  SELECT c.d1, c.d2, COUNT(*) AS n_common
  FROM cand c
  JOIN hs h1 ON h1.doc_id = c.d1
  JOIN hs h2 ON h2.doc_id = c.d2 AND h2.h = h1.h
  GROUP BY c.d1, c.d2
),
sizes AS (SELECT doc_id, COUNT(*) AS ns FROM hs GROUP BY doc_id)
SELECT d1, d2, {jac} AS jaccard
FROM inter
JOIN sizes s1 ON s1.doc_id = d1
JOIN sizes s2 ON s2.doc_id = d2
WHERE {jac} >= {threshold}
"""


ORACLES["docs_minhash_lsh"] = _minhash_lsh_sql()


def _portable_draw_sql(salt: str, key_expr: str) -> str:
    """ANSI twin of sampling.portable_draw for a single key column:
    md5 of salt || \\x1f || key, first 15 hex digits parsed base-16,
    mod 1e6."""
    return (
        f"CAST('0x' || substr(md5('{salt}' || chr(31) || {key_expr}), 1, 15) "
        f"AS BIGINT) % 1000000"
    )


def _split_case_sql(weights: dict[str, float], salt: str, key_expr: str) -> str:
    """ANSI twin of sampling.split_columns, using the SAME
    sampling.split_thresholds so both sides inherit identical float
    rounding of the cumulative boundaries."""
    from irclogbot_spark.operators.sampling import split_thresholds

    draw = _portable_draw_sql(salt, key_expr)
    whens = " ".join(
        f"WHEN {draw} < {t} THEN '{name}'" for name, t in split_thresholds(weights)
    )
    return f"CASE {whens} ELSE '{list(weights)[-1]}' END"


ORACLES["docs_sample_split"] = f"""
WITH mixed AS (
  SELECT * FROM documents
  WHERE {_portable_draw_sql('mix', 'CAST(doc_id AS VARCHAR)')}
    < CASE lang WHEN 'en' THEN 1000000 WHEN 'zh' THEN 250000 ELSE 500000 END
),
labeled AS (
  SELECT *, {_split_case_sql({'train': 0.8, 'val': 0.1, 'test': 0.1}, 'split',
                             'CAST(doc_id AS VARCHAR)')} AS split
  FROM mixed
)
SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM labeled GROUP BY split, lang
"""

# the 8-token shingle twin mirrors the minhash oracle's CTE shapes
# (regexp \\S+ tokens, inclusive list slice, md5_hash31 fold)
ORACLES["docs_decontaminate"] = rf"""
WITH labeled AS (
  SELECT doc_id, text,
    {_split_case_sql({'train': 0.9, 'test': 0.1}, 'decon', 'CAST(doc_id AS VARCHAR)')} AS split
  FROM documents
),
t AS (SELECT doc_id, split, regexp_extract_all(text, '\S+') AS toks FROM labeled),
grams AS (
  SELECT DISTINCT doc_id, split, array_to_string(toks[i:i+7], ' ') AS shingle
  FROM t, UNNEST(range(1, len(toks) - 6)) AS r(i)
  WHERE len(toks) >= 8
),
hs AS (SELECT doc_id, split,
         CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 2147483647 AS h
       FROM grams),
trh AS (SELECT DISTINCT h FROM hs WHERE split = 'train'),
agg AS (
  SELECT te.doc_id, COUNT(te.h) AS n_ngrams,
    CAST(SUM(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
  FROM (SELECT doc_id, h FROM hs WHERE split = 'test') te
  LEFT JOIN trh tr ON te.h = tr.h
  GROUP BY te.doc_id
)
SELECT d.doc_id,
  COALESCE(a.n_ngrams, 0) AS n_ngrams,
  COALESCE(a.n_shared, 0) AS n_shared,
  COALESCE(a.n_shared, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM labeled WHERE split = 'test') d
LEFT JOIN agg a ON a.doc_id = d.doc_id
"""


ORACLES["docs_dedup_keep_first"] = """
SELECT doc_id, lang, source FROM documents
WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY md5(text))
"""


def _rep_arm(n: int) -> str:
    """Per-n gram aggregation CTE body (twin of repetition._per_n)."""
    return rf"""
  SELECT doc_id,
    CAST(SUM(cnt) AS BIGINT) AS n_grams,
    CAST(MAX(cnt * length(gram)) AS BIGINT) AS top_chars,
    CAST(SUM(CASE WHEN cnt > 1 THEN cnt * length(gram) ELSE 0 END) AS BIGINT) AS dup_chars,
    CAST(SUM(cnt * length(gram)) AS BIGINT) AS tot_chars
  FROM (
    SELECT doc_id, gram, COUNT(*) AS cnt FROM (
      SELECT doc_id,
        unnest(list_transform(generate_series(1, len(t) - {n - 1}),
               i -> array_to_string(list_slice(t, i, i + {n - 1}), ' '))) AS gram
      FROM toks WHERE len(t) >= {n}
    ) GROUP BY doc_id, gram
  ) GROUP BY doc_id"""


#: repetition-signals CTE block (twin of repetition.repetition_signals)
#: — reused by the merged docs_quality oracle.
_REP_CTES = rf"""toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
a2 AS ({_rep_arm(2)}),
a5 AS ({_rep_arm(5)}),
rep AS (
  SELECT d.doc_id,
    COALESCE(a2.n_grams, 0) AS n_top_grams,
    CASE WHEN COALESCE(a2.tot_chars, 0) > 0
         THEN CAST(a2.top_chars AS DOUBLE) / CAST(a2.tot_chars AS DOUBLE)
         ELSE 0.0 END AS top2gram_frac,
    COALESCE(a5.n_grams, 0) AS n_dup_grams,
    CASE WHEN COALESCE(a5.tot_chars, 0) > 0
         THEN CAST(a5.dup_chars AS DOUBLE) / CAST(a5.tot_chars AS DOUBLE)
         ELSE 0.0 END AS dup5gram_frac
  FROM documents d
  LEFT JOIN a2 ON a2.doc_id = d.doc_id
  LEFT JOIN a5 ON a5.doc_id = d.doc_id
)"""

# docs_quality is declared earlier (next to its family) but needs the
# repetition CTE block defined just above — substitute it now.
# .replace, not .format: the SQL carries regex brace quantifiers.
ORACLES["docs_quality"] = ORACLES["docs_quality"].replace("{rep_ctes}", _REP_CTES)

# docs_crossdup registers past the driver's 50-row record cap; its
# oracle is exercised by the local parity suite. DISTINCT is taken
# over the shingle STRING before hashing (hash collisions must
# survive, mirroring hashed_shingles = array_distinct -> transform).
ORACLES["docs_crossdup"] = r"""
WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
g AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+19], ' ') AS shingle
  FROM t, UNNEST(range(1, len(toks) - 18)) AS r(i)
  WHERE len(toks) >= 20
),
spans AS (
  SELECT doc_id,
    CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 2147483647 AS h
  FROM g
),
d AS (SELECT h, COUNT(*) AS nd FROM spans GROUP BY h),
per AS (
  SELECT s.doc_id, COUNT(*) AS n_spans,
    CAST(SUM(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_spans
  FROM spans s JOIN d ON s.h = d.h GROUP BY s.doc_id
)
SELECT doc.doc_id,
  COALESCE(p.n_spans, 0) AS n_spans,
  COALESCE(p.n_shared_spans, 0) AS n_shared_spans,
  CASE WHEN COALESCE(p.n_spans, 0) > 0
       THEN CAST(p.n_shared_spans AS DOUBLE) / CAST(p.n_spans AS DOUBLE)
       ELSE 0.0 END AS cross_dup_frac
FROM documents doc LEFT JOIN per p ON p.doc_id = doc.doc_id
"""

ORACLES["docs_lm_score"] = r"""
WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
g AS (
  SELECT doc_id,
    unnest(list_transform(generate_series(1, len(t) - 1),
           i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS gram
  FROM toks WHERE len(t) >= 2
),
vocab AS (
  SELECT gram, COUNT(*) AS cnt FROM g GROUP BY gram
  ORDER BY cnt DESC, gram LIMIT 500
),
per AS (
  SELECT g.doc_id,
    COUNT(g.gram) AS n_bigrams,
    CAST(SUM(CASE WHEN v.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_familiar,
    CAST(SUM(COALESCE(v.cnt, 0)) AS BIGINT) AS freq_mass
  FROM g LEFT JOIN vocab v ON g.gram = v.gram
  GROUP BY g.doc_id
)
SELECT d.doc_id,
  COALESCE(p.n_bigrams, 0) AS n_bigrams,
  COALESCE(p.n_familiar, 0) AS n_familiar,
  CASE WHEN COALESCE(p.n_bigrams, 0) > 0
       THEN CAST(p.n_familiar AS DOUBLE) / CAST(p.n_bigrams AS DOUBLE)
       ELSE 0.0 END AS familiar_frac,
  CASE WHEN COALESCE(p.n_bigrams, 0) > 0
       THEN CAST(p.freq_mass AS DOUBLE) / CAST(p.n_bigrams AS DOUBLE)
       ELSE 0.0 END AS avg_gram_freq
FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
"""

ORACLES["docs_pack_sequences"] = r"""
WITH base AS (
  SELECT doc_id, doc_id % 8 AS shard,
    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT)
      AS tok_start
  FROM base
)
SELECT doc_id, shard, n_tokens,
  tok_start // 512 AS seq_id,
  tok_start % 512 AS seq_offset
FROM c
"""

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_DIGITS = r"\b\d{6,}\b"

ORACLES["docs_pii_redact"] = rf"""
WITH enriched AS (
  SELECT doc_id, text AS orig,
    text || ' contact user' || CAST(doc_id AS VARCHAR)
         || '@mail.example.com from 10.0.'
         || CAST(doc_id % 256 AS VARCHAR) || '.7 acct '
         || CAST(doc_id + 100000 AS VARCHAR) AS text
  FROM documents
),
fp AS (
  SELECT doc_id,
    list_transform(regexp_extract_all(orig, '\S+'),
                   s -> CAST(length(s) * 131 + ascii(s) AS BIGINT)) AS codes
  FROM enriched
)
SELECT e.doc_id,
  CAST(len(regexp_extract_all(e.text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(e.text, '{_PII_IPV4}')) AS BIGINT) AS n_ips,
  CAST(len(regexp_extract_all(e.text, '{_PII_DIGITS}')) AS BIGINT) AS n_digit_runs,
  regexp_replace(regexp_replace(regexp_replace(e.text,
    '{_PII_EMAIL}', '<EMAIL>', 'g'),
    '{_PII_IPV4}', '<IP>', 'g'),
    '{_PII_DIGITS}', '<NUM>', 'g') AS redacted,
  CASE WHEN len(fp.codes) = 0 THEN 0
       ELSE list_reduce(fp.codes, (a, b) -> (a * 1000003 + b) % 2147483647)
  END AS fingerprint,
  md5(e.orig) AS content_md5
FROM enriched e JOIN fp ON fp.doc_id = e.doc_id
"""


def _lang_hits(lang_pattern: str, col: str = "text") -> str:
    return rf"len(regexp_extract_all(lower({col}), '{lang_pattern}'))"


def _lang_id_case(col: str = "text") -> str:
    # must transcribe functions.text.lang_id exactly (alphabetical
    # priority CASE); patterns come from the same stopword lists
    from irclogbot_spark.functions.text import LANG_STOPWORDS, lang_stopword_pattern

    langs = sorted(LANG_STOPWORDS)
    hits = {lg: _lang_hits(lang_stopword_pattern(lg), col) for lg in langs}
    branches = [f"WHEN greatest({', '.join(hits[lg] for lg in langs)}) = 0 THEN 'und'"]
    for i, lg in enumerate(langs[:-1]):
        conds = " AND ".join(f"{hits[lg]} >= {hits[o]}" for o in langs[i + 1 :])
        branches.append(f"WHEN {conds} THEN '{lg}'")
    return "CASE " + " ".join(branches) + f" ELSE '{langs[-1]}' END"


ORACLES["docs_lang_id"] = f"""
SELECT {_lang_id_case()} AS detected, lang, source, COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY 1, 2, 3
"""

ORACLES["docs_prep_pipeline"] = rf"""
WITH toks0 AS (
  SELECT doc_id, lang, text, regexp_extract_all(text, '\S+') AS t FROM documents
),
enough AS (SELECT * FROM toks0 WHERE len(t) >= 5),
g2 AS (
  SELECT doc_id,
    unnest(list_transform(generate_series(1, len(t) - 1),
           i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS gram
  FROM enough WHERE len(t) >= 2
),
c2 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g2 GROUP BY doc_id, gram),
r2 AS (
  SELECT doc_id, MAX(cnt * length(gram)) AS topc, SUM(cnt * length(gram)) AS totc
  FROM c2 GROUP BY doc_id
),
gated AS (
  SELECT e.* FROM enough e
  WHERE e.doc_id IN (
    SELECT doc_id FROM r2 WHERE CAST(topc AS DOUBLE) / CAST(totc AS DOUBLE) <= 0.12)
),
uniq AS (
  SELECT * FROM gated
  WHERE doc_id IN (SELECT MIN(doc_id) FROM gated GROUP BY md5(text))
),
labeled AS (
  SELECT *, {{split_case}} AS split FROM uniq
),
grams8 AS (
  SELECT DISTINCT doc_id, split, array_to_string(t[i:i+7], ' ') AS shingle
  FROM (SELECT doc_id, split, t FROM labeled WHERE split IN ('train', 'test')) tg,
       UNNEST(range(1, len(t) - 6)) AS r(i)
  WHERE len(t) >= 8
),
hs AS (
  SELECT doc_id, split,
    CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 2147483647 AS h
  FROM grams8
),
contam AS (
  SELECT DISTINCT tr.doc_id
  FROM (SELECT doc_id, h FROM hs WHERE split = 'train') tr
  JOIN (SELECT DISTINCT h FROM hs WHERE split = 'test') te ON tr.h = te.h
),
survivors AS (
  SELECT doc_id, lang, split, doc_id % 8 AS shard, CAST(len(t) AS BIGINT) AS n_tokens
  FROM labeled
  WHERE split <> 'train' OR doc_id NOT IN (SELECT doc_id FROM contam)
),
c AS (
  SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY split, shard ORDER BY doc_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT)
    AS tok_start
  FROM survivors
)
SELECT split, doc_id, shard, n_tokens,
  tok_start // 512 AS seq_id,
  tok_start % 512 AS seq_offset,
  lang
FROM c
"""
ORACLES["docs_prep_pipeline"] = ORACLES["docs_prep_pipeline"].replace(
    "{split_case}",
    _split_case_sql(
        {"train": 0.9, "val": 0.05, "test": 0.05}, "prep", "CAST(doc_id AS VARCHAR)"
    ),
)

# The engine decodes REAL BMP bytes (synthesize_bmp_media renders one
# per doc); the oracle re-derives the geometry the fixture encoded
# from the text's UTF-8 length — a wrong header parse cannot match.
ORACLES["media_decode_stats"] = """
SELECT doc_id AS asset_id,
  CAST(4 + octet_length(encode(text)) % 13 AS INT) AS width,
  CAST(3 + octet_length(encode(text)) % 7 AS INT) AS height,
  CAST(3 AS INT) AS n_channels
FROM documents
"""

# Round 7: trigram substring search — the oracle is the NAIVE full
# contains() scan over every pattern (the quadratic-twin convention:
# the engine's index path must agree row-for-row with brute force).
from irclogbot_spark.queries import _TRGM_PATTERNS as _TP  # noqa: E402

# escape single quotes so a future pattern containing ' cannot break
# (or inject into) the DuckDB oracle SQL
_TP_VALUES = ", ".join("('{}')".format(p.replace("'", "''")) for p in _TP)
ORACLES["docs_trgm_search"] = f"""
WITH pats(pattern) AS (VALUES {_TP_VALUES})
SELECT p.pattern, d.doc_id
FROM documents d, pats p
WHERE contains(d.text, p.pattern)
"""

# Round 8: the persisted-bucketed-index twin serves the SAME answer
# from partition-pruned posting directories; clause-identical naive
# oracle (two physical dataflows, one value hash).
ORACLES["docs_trgm_search_indexed"] = ORACLES["docs_trgm_search"]

# Round 9: the 16-pattern amortization probe — same naive-scan shape
# over the larger pattern set.
from irclogbot_spark.queries import _TRGM_MULTI_PATTERNS as _TMP  # noqa: E402

_TMP_VALUES = ", ".join("('{}')".format(p.replace("'", "''")) for p in _TMP)
ORACLES["docs_trgm_multi_search"] = f"""
WITH pats(pattern) AS (VALUES {_TMP_VALUES})
SELECT p.pattern, d.doc_id
FROM documents d, pats p
WHERE contains(d.text, p.pattern)
"""

# Round 9: the ES more_like_this analog — postings, per-term df,
# integer idf weights, per-query top-terms selection, and the
# shared-term candidate ranking all replayed. Tokenizer is the
# WORD_RE \\S+ split with per-doc tf (matching build_text_index).
ORACLES["docs_more_like_this"] = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS term FROM documents
),
post AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS dfq FROM post GROUP BY term),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents),
qt AS (
  SELECT p.doc_id AS query_id, p.term,
    (n.n_docs * 1000) // d.dfq AS idf_milli,
    p.tf * ((n.n_docs * 1000) // d.dfq) AS w
  FROM post p JOIN dfreq d USING (term) CROSS JOIN n
  WHERE p.doc_id IN (0, 1, 2)
),
qterms AS (
  SELECT query_id, term, idf_milli FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY w DESC, term
    ) AS trnk FROM qt
  ) WHERE trnk <= 5
),
scored AS (
  SELECT q.query_id, p.doc_id AS cand_id,
    CAST(SUM(p.tf * q.idf_milli) AS BIGINT) AS score_milli
  FROM qterms q JOIN post p USING (term)
  WHERE p.doc_id <> q.query_id
  GROUP BY q.query_id, p.doc_id
)
SELECT query_id, cand_id, score_milli, rnk FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score_milli DESC, cand_id
  ) AS BIGINT) AS rnk FROM scored
) WHERE rnk <= 10
"""


# Round 9: the ES significant_terms analog — the whole integer-lift
# pipeline (term counts, channel totals, background, 1-row corpus
# total, min-count guard, milli lift, per-channel rank) replayed on
# the shared irclog CTE.
ORACLES["log_significant_terms"] = f"""
WITH {IRCLOG_CTE},
t AS (
  SELECT channel, unnest(regexp_extract_all(remark, '\\S+')) AS term FROM irclog
),
ct AS (
  SELECT channel, term, CAST(COUNT(*) AS BIGINT) AS f_cnt
  FROM t GROUP BY channel, term
),
chan AS (
  SELECT channel, CAST(SUM(f_cnt) AS BIGINT) AS chan_total FROM ct GROUP BY channel
),
bg AS (SELECT term, CAST(SUM(f_cnt) AS BIGINT) AS bg_cnt FROM ct GROUP BY term),
tot AS (SELECT CAST(SUM(f_cnt) AS BIGINT) AS corpus_total FROM ct),
scored AS (
  SELECT c.channel, c.term, c.f_cnt,
    CAST((c.f_cnt * tot.corpus_total * 1000)
         // (chan.chan_total * bg.bg_cnt) AS BIGINT) AS lift_milli
  FROM ct c JOIN chan USING (channel) JOIN bg USING (term) CROSS JOIN tot
  WHERE c.f_cnt >= 3
)
SELECT channel, term, f_cnt, lift_milli, rnk FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY channel ORDER BY lift_milli DESC, f_cnt DESC, term
  ) AS BIGINT) AS rnk
  FROM scored
) WHERE rnk <= 5
"""


# Round 9: the ES fuzzy-query analog — quadratic vocab x terms
# levenshtein, plain edit distance in both engines.
from irclogbot_spark.queries import _FUZZY_TERMS as _FZ  # noqa: E402

_FZ_VALUES = ", ".join("('{}')".format(t.replace("'", "''")) for t in _FZ)
ORACLES["docs_fuzzy_term_search"] = f"""
WITH pats(term) AS (VALUES {_FZ_VALUES}),
tok AS (
  SELECT DISTINCT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS tok
  FROM documents
)
SELECT DISTINCT p.term, t.doc_id
FROM tok t, pats p
WHERE levenshtein(t.tok, p.term) <= 1
"""


# Round 9: the SimHash oracle twin — the whole pipeline (weighted
# per-bit majority fingerprint over 60-bit md5 token hashes, then
# the quadratic hamming filter) rebuilt in SQL. The engine's banded
# candidate path must equal this all-pairs form EXACTLY: hamming<=3
# implies agreement on one of the four 16-bit chunks (pigeonhole),
# so banding loses nothing.
ORACLES["docs_simhash_neardup_md5"] = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok FROM documents
),
h AS (
  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM toks
),
v AS (
  SELECT doc_id, COUNT(*) AS n,
    SUM((h >> 0) & 1) AS b0,
    SUM((h >> 1) & 1) AS b1,
    SUM((h >> 2) & 1) AS b2,
    SUM((h >> 3) & 1) AS b3,
    SUM((h >> 4) & 1) AS b4,
    SUM((h >> 5) & 1) AS b5,
    SUM((h >> 6) & 1) AS b6,
    SUM((h >> 7) & 1) AS b7,
    SUM((h >> 8) & 1) AS b8,
    SUM((h >> 9) & 1) AS b9,
    SUM((h >> 10) & 1) AS b10,
    SUM((h >> 11) & 1) AS b11,
    SUM((h >> 12) & 1) AS b12,
    SUM((h >> 13) & 1) AS b13,
    SUM((h >> 14) & 1) AS b14,
    SUM((h >> 15) & 1) AS b15,
    SUM((h >> 16) & 1) AS b16,
    SUM((h >> 17) & 1) AS b17,
    SUM((h >> 18) & 1) AS b18,
    SUM((h >> 19) & 1) AS b19,
    SUM((h >> 20) & 1) AS b20,
    SUM((h >> 21) & 1) AS b21,
    SUM((h >> 22) & 1) AS b22,
    SUM((h >> 23) & 1) AS b23,
    SUM((h >> 24) & 1) AS b24,
    SUM((h >> 25) & 1) AS b25,
    SUM((h >> 26) & 1) AS b26,
    SUM((h >> 27) & 1) AS b27,
    SUM((h >> 28) & 1) AS b28,
    SUM((h >> 29) & 1) AS b29,
    SUM((h >> 30) & 1) AS b30,
    SUM((h >> 31) & 1) AS b31,
    SUM((h >> 32) & 1) AS b32,
    SUM((h >> 33) & 1) AS b33,
    SUM((h >> 34) & 1) AS b34,
    SUM((h >> 35) & 1) AS b35,
    SUM((h >> 36) & 1) AS b36,
    SUM((h >> 37) & 1) AS b37,
    SUM((h >> 38) & 1) AS b38,
    SUM((h >> 39) & 1) AS b39,
    SUM((h >> 40) & 1) AS b40,
    SUM((h >> 41) & 1) AS b41,
    SUM((h >> 42) & 1) AS b42,
    SUM((h >> 43) & 1) AS b43,
    SUM((h >> 44) & 1) AS b44,
    SUM((h >> 45) & 1) AS b45,
    SUM((h >> 46) & 1) AS b46,
    SUM((h >> 47) & 1) AS b47,
    SUM((h >> 48) & 1) AS b48,
    SUM((h >> 49) & 1) AS b49,
    SUM((h >> 50) & 1) AS b50,
    SUM((h >> 51) & 1) AS b51,
    SUM((h >> 52) & 1) AS b52,
    SUM((h >> 53) & 1) AS b53,
    SUM((h >> 54) & 1) AS b54,
    SUM((h >> 55) & 1) AS b55,
    SUM((h >> 56) & 1) AS b56,
    SUM((h >> 57) & 1) AS b57,
    SUM((h >> 58) & 1) AS b58,
    SUM((h >> 59) & 1) AS b59
  FROM h GROUP BY doc_id
),
packed AS (
  SELECT doc_id,
    CASE WHEN 2*b0 > n THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b1 > n THEN CAST(2 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b2 > n THEN CAST(4 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b3 > n THEN CAST(8 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b4 > n THEN CAST(16 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b5 > n THEN CAST(32 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b6 > n THEN CAST(64 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b7 > n THEN CAST(128 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b8 > n THEN CAST(256 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b9 > n THEN CAST(512 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b10 > n THEN CAST(1024 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b11 > n THEN CAST(2048 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b12 > n THEN CAST(4096 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b13 > n THEN CAST(8192 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b14 > n THEN CAST(16384 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b15 > n THEN CAST(32768 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b16 > n THEN CAST(65536 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b17 > n THEN CAST(131072 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b18 > n THEN CAST(262144 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b19 > n THEN CAST(524288 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b20 > n THEN CAST(1048576 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b21 > n THEN CAST(2097152 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b22 > n THEN CAST(4194304 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b23 > n THEN CAST(8388608 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b24 > n THEN CAST(16777216 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b25 > n THEN CAST(33554432 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b26 > n THEN CAST(67108864 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b27 > n THEN CAST(134217728 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b28 > n THEN CAST(268435456 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b29 > n THEN CAST(536870912 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b30 > n THEN CAST(1073741824 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b31 > n THEN CAST(2147483648 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b32 > n THEN CAST(4294967296 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b33 > n THEN CAST(8589934592 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b34 > n THEN CAST(17179869184 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b35 > n THEN CAST(34359738368 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b36 > n THEN CAST(68719476736 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b37 > n THEN CAST(137438953472 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b38 > n THEN CAST(274877906944 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b39 > n THEN CAST(549755813888 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b40 > n THEN CAST(1099511627776 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b41 > n THEN CAST(2199023255552 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b42 > n THEN CAST(4398046511104 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b43 > n THEN CAST(8796093022208 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b44 > n THEN CAST(17592186044416 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b45 > n THEN CAST(35184372088832 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b46 > n THEN CAST(70368744177664 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b47 > n THEN CAST(140737488355328 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b48 > n THEN CAST(281474976710656 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b49 > n THEN CAST(562949953421312 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b50 > n THEN CAST(1125899906842624 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b51 > n THEN CAST(2251799813685248 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b52 > n THEN CAST(4503599627370496 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b53 > n THEN CAST(9007199254740992 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b54 > n THEN CAST(18014398509481984 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b55 > n THEN CAST(36028797018963968 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b56 > n THEN CAST(72057594037927936 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b57 > n THEN CAST(144115188075855872 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b58 > n THEN CAST(288230376151711744 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    + CASE WHEN 2*b59 > n THEN CAST(576460752303423488 AS BIGINT) ELSE CAST(0 AS BIGINT) END
    AS sim
  FROM v
),
sims AS (
  SELECT d.doc_id, COALESCE(p.sim, 0) AS sim
  FROM documents d LEFT JOIN packed p USING (doc_id)
)
SELECT a.doc_id AS d1, b.doc_id AS d2,
       CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim, b.sim)) <= 3
"""


# Round 9: the crawl-admission batch twin. The canonical slot URL is
# derived INDEPENDENTLY from the fixture formula (all three messy
# spellings collapse to it by construction — the engine must get
# there through its regexp chain); both keeper layers re-derive in
# SQL with window minima.
ORACLES["docs_crawl_admit"] = """
WITH batch AS (
  SELECT doc_id,
    'https://corpus.example/docs/' || CAST(doc_id - (doc_id % 3) AS VARCHAR)
      || '?q=1' AS canon_url,
    text
  FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
    'https://mirror.example/m/' || CAST(doc_id AS VARCHAR) AS canon_url,
    text
  FROM documents WHERE doc_id % 10 = 0
),
k AS (
  SELECT *, MIN(doc_id) OVER (PARTITION BY canon_url) AS uk FROM batch
),
ud AS (
  SELECT doc_id, canon_url, 'url_duplicate' AS verdict,
         CAST(uk AS BIGINT) AS dup_of
  FROM k WHERE doc_id <> uk
),
surv AS (
  SELECT doc_id, canon_url, md5(text) AS fp FROM k WHERE doc_id = uk
),
c AS (
  SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS ck FROM surv
)
SELECT doc_id, canon_url, verdict, dup_of FROM ud
UNION ALL
SELECT doc_id, canon_url,
  CASE WHEN doc_id = ck THEN 'new' ELSE 'exact_dup_batch' END AS verdict,
  CAST(CASE WHEN doc_id = ck THEN NULL ELSE ck END AS BIGINT) AS dup_of
FROM c
"""

# Round 7: paragraph-level language segmentation — split replayed
# with WITH ORDINALITY, the lang CASE transcribed per paragraph, the
# doc-level distinct count joined back.
from irclogbot_spark.queries import _FOREIGN_PARAS as _FP  # noqa: E402

ORACLES["docs_paragraph_langid"] = f"""
WITH fx AS (
  SELECT doc_id,
    CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN text
      WHEN 1 THEN text || chr(10) || chr(10) || '{_FP[1]}'
      WHEN 2 THEN text || chr(10) || chr(10) || '{_FP[2]}'
      ELSE text || chr(10) || chr(10) || '{_FP[3]}'
    END AS ft
  FROM documents
),
p AS (
  -- parallel unnests zip in DuckDB: (para, 0-based index)
  SELECT doc_id,
    unnest(string_split(ft, chr(10) || chr(10))) AS para,
    CAST(unnest(generate_series(1,
      len(string_split(ft, chr(10) || chr(10))))) - 1 AS INT) AS para_idx
  FROM fx
),
s AS (
  SELECT doc_id, para_idx, {_lang_id_case('para')} AS para_lang FROM p
),
a AS (
  SELECT doc_id, CAST(COUNT(DISTINCT para_lang) AS BIGINT) AS n_doc_langs
  FROM s GROUP BY 1
)
SELECT s.doc_id, s.para_idx, s.para_lang, a.n_doc_langs,
  a.n_doc_langs > 1 AS is_mixed
FROM s JOIN a USING (doc_id)
"""

# Round 7: URL canonicalization — the oracle derives the EXPECTED
# canonical string straight from the fixture formula (lowercased
# host, default port and fragment gone, tracking params dropped,
# query sorted), independently of the engine's regexp chain, so an
# algorithmic bug can't self-confirm; group sizes via window count.
ORACLES["docs_url_canonicalize"] = """
WITH c AS (
  SELECT doc_id,
    CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN 'http://www.' || lower(source) || '.com/' || lang
                  || '/page?a=1&b=' || CAST(doc_id % 7 AS VARCHAR)
      WHEN 1 THEN 'http://www.' || source || '.com/' || lang
                  || '/page?a=1&b=' || CAST(doc_id % 7 AS VARCHAR)
      WHEN 2 THEN 'https://docs.' || lower(source) || '.org/'
      ELSE 'https://docs.' || source || '.org/'
    END AS url_canonical
  FROM documents
)
SELECT doc_id, url_canonical,
  COUNT(*) OVER (PARTITION BY url_canonical) AS n_same_url
FROM c
"""

# Round 7: web-markup extraction — the engine strip chain replayed
# clause-identically (all patterns RE2-safe by construction; entity
# decode order pinned with &amp; last).
ORACLES["docs_html_extract"] = r"""
WITH page AS (
  SELECT doc_id,
    '<html><head><title>doc</title><style type="text/css">p { color: #333; }</style><script>if (1 < 2 && x > 0) { run(); }</script></head><body><h1>'
    || source || '</h1>' || chr(10) || '<p class="main">' || text
    || ' &amp; <b>' || lang || '</b>&nbsp;&#39;tail&#39;</p><br/></body></html>'
    AS html
  FROM documents
),
stripped AS (
  SELECT doc_id,
    trim(regexp_replace(
      replace(replace(replace(replace(replace(replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
            '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
          '(?s)<[^>]*>', ' ', 'g'),
        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
        '&nbsp;', ' '), '&amp;', '&'),
      '\s+', ' ', 'g')) AS t
  FROM page
)
SELECT doc_id, md5(t) AS content_md5, CAST(length(t) AS BIGINT) AS n_chars
FROM stripped
"""

# Round 7: NFC normalization over deterministically decomposed text —
# DuckDB's nfc_normalize is the cross-engine referee for the pandas
# UDF seam.
ORACLES["docs_nfc_normalize"] = """
WITH dec AS (
  SELECT doc_id,
    regexp_replace(text, 'a', 'a' || chr(769), 'g') AS d
  FROM documents
)
SELECT doc_id,
  CAST(octet_length(encode(d)) AS BIGINT) AS n_bytes_decomposed,
  CAST(octet_length(encode(nfc_normalize(d))) AS BIGINT) AS n_bytes_nfc,
  md5(nfc_normalize(d)) AS content_md5
FROM dec
"""

# PNG twin: same geometry derivation, plus the channel count the
# fixture's color_type cycle (gray/RGB/GA/RGBA by length % 4) implies
# — the engine must really inflate+defilter the zlib stream to agree.
ORACLES["media_png_decode_stats"] = """
SELECT doc_id AS asset_id,
  CAST(4 + octet_length(encode(text)) % 13 AS INT) AS width,
  CAST(3 + octet_length(encode(text)) % 7 AS INT) AS height,
  CAST(CASE octet_length(encode(text)) % 4
       WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 2 ELSE 4 END AS INT)
    AS n_channels
FROM documents
"""

# Round 8: the JPEG fixture alternates grayscale (even text length)
# and 4:4:4 RGB (odd); geometry matches the BMP/PNG convention. The
# engine must really entropy-decode the stream — decode_stub="raise".
ORACLES["media_jpeg_decode_stats"] = """
SELECT doc_id AS asset_id,
  CAST(4 + octet_length(encode(text)) % 13 AS INT) AS width,
  CAST(3 + octet_length(encode(text)) % 7 AS INT) AS height,
  CAST(CASE WHEN octet_length(encode(text)) % 2 = 0 THEN 1 ELSE 3 END
    AS INT) AS n_channels
FROM documents
"""


# ---------------------------------------------- coverage batteries (round 1)
ORACLES["window_date_functions"] = """
SELECT o_custkey, o_orderkey, o_orderdate,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER wrun AS DOUBLE) AS running_spend,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER wmov AS DOUBLE)
    / COUNT(*) OVER wmov AS moving_avg,
  CAST(year(o_orderdate) AS BIGINT) AS yr,
  CAST(month(o_orderdate) AS BIGINT) AS mo,
  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow_sun1,
  CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS plus30,
  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_95,
  last_day(CAST(o_orderdate AS DATE)) AS month_end
FROM orders
WINDOW wrun AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       wmov AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""

ORACLES["math_array_functions"] = """
WITH t AS (
  SELECT *,
    [CAST(l_quantity AS DOUBLE), CAST(l_extendedprice AS DOUBLE),
     CAST(l_discount AS DOUBLE)] AS v
  FROM lineitem
)
SELECT l_orderkey, l_linenumber,
  sqrt(l_quantity) AS qty_sqrt,
  l_quantity * l_quantity AS qty_sq,
  abs(l_discount - 0.05) AS disc_dev,
  CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS price_k_floor,
  CAST(ceil(l_extendedprice / 1000.0) AS BIGINT) AS price_k_ceil,
  CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign,
  l_orderkey % 7 AS okey_mod7,
  list_aggregate(v, 'min') AS vmin,
  list_aggregate(v, 'max') AS vmax,
  list_reduce(list_prepend(0.0, v), (a, b) -> a + b) AS vsum,
  sqrt(list_dot_product(v, v)) AS l2_norm
FROM t
"""

ORACLES["log_search_terms"] = f"""
WITH {IRCLOG_CTE},
hits AS (
  SELECT remark FROM irclog
  WHERE contains(remark, '"k": 7') OR contains(remark, '"k": 13') OR contains(remark, '"k": 42')
),
terms AS (SELECT unnest(regexp_extract_all(remark, '\\S+')) AS term FROM hits)
SELECT term, COUNT(*) AS n FROM terms
GROUP BY term ORDER BY n DESC, term LIMIT 20
"""


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

ORACLES["agg_stats"] = """
WITH m AS (
  SELECT o_orderstatus,
    quantile_cont(o_totalprice, 0.5) AS p50,
    quantile_cont(o_totalprice, 0.9) AS p90,
    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS s,
    SUM(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(o_totalprice AS DECIMAL(12,2))) AS ss,
    COUNT(*) AS n,
    COUNT(DISTINCT o_custkey) AS n_customers
  FROM orders GROUP BY o_orderstatus
)
SELECT o_orderstatus, p50, p90,
  CAST(s AS DOUBLE) / n AS mean_price,
  round(sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1)), 4) AS stddev_price,
  n,
  n_customers,
  CAST(s AS DOUBLE) AS total_value
FROM m
"""

ORACLES["agg_pivot"] = f"""
SELECT o_orderstatus,
  {", ".join(
      'COUNT(*) FILTER (WHERE o_orderpriority = ' + chr(39) + p + chr(39) + ') AS "' + p + '"'
      for p in _PRIORITIES
  )}
FROM orders GROUP BY o_orderstatus
"""

# Dense-matrix twin of queries.agg_unpivot: every (status, priority)
# cell incl. zeros — the semantics pivot->unpivot round-trips to.
ORACLES["agg_unpivot"] = f"""
WITH pri(o_orderpriority) AS (VALUES {", ".join("(" + chr(39) + p + chr(39) + ")" for p in _PRIORITIES)}),
c AS (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
  FROM orders GROUP BY 1, 2
)
SELECT s.o_orderstatus, pri.o_orderpriority,
  COALESCE(c.n, 0) AS n_orders
FROM (SELECT DISTINCT o_orderstatus FROM orders) s
CROSS JOIN pri
LEFT JOIN c ON c.o_orderstatus = s.o_orderstatus
  AND c.o_orderpriority = pri.o_orderpriority
ORDER BY s.o_orderstatus, pri.o_orderpriority
"""

ORACLES["events_asof_join"] = """
SELECT e.event_id, e.user_id, e.ts AS err_ts,
  MAX(p.ts) AS last_purchase_ts,
  COUNT(p.ts) AS n_prior_purchases
FROM events e
LEFT JOIN events p
  ON p.event_type = 'purchase' AND p.user_id = e.user_id AND p.ts <= e.ts
WHERE e.event_type = 'error'
GROUP BY e.event_id, e.user_id, e.ts
"""


# ANSI twin of queries.docs_c4_clean / operators/cleaning.py: same
# doc_id-derived enrichment block, same trimmed-line predicates
# (terminal punctuation, >=3 words, no javascript / lorem ipsum /
# brace). Plain string, not an f-string — the planted code line
# contains literal braces.
ORACLES["docs_c4_clean"] = r"""
WITH enriched AS (
  SELECT doc_id,
    text || chr(10) || 'Sentence number ' || CAST(doc_id % 7 AS VARCHAR) || ' ends properly.'
    || CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'Another valid line of prose survives here.' ELSE '' END
    || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'click here to read more' ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN chr(10) || '* bullet item without punctuation' ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'Please enable javascript to view this page.' ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN chr(10) || '{ var x = 1; }' ELSE '' END
    || CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'Lorem ipsum dolor sit amet.' ELSE '' END
    || chr(10) || 'No.' AS text
  FROM documents
),
split_docs AS (
  SELECT doc_id, text,
    list_transform(string_split(text, chr(10)), l -> trim(l)) AS lines
  FROM enriched
),
kept_docs AS (
  SELECT doc_id, text, lines,
    list_filter(lines, l ->
      regexp_matches(l, '[.!?"]$')
      AND len(regexp_extract_all(l, '\S+')) >= 3
      AND NOT contains(lower(l), 'javascript')
      AND NOT contains(lower(l), 'lorem ipsum')
      AND NOT contains(l, '{')
    ) AS kept
  FROM split_docs
)
SELECT doc_id,
  CAST(len(lines) AS BIGINT) AS n_lines,
  CAST(len(kept) AS BIGINT) AS n_kept_lines,
  array_to_string(kept, chr(10)) AS clean_text,
  CAST(length(array_to_string(kept, chr(10))) AS BIGINT) AS n_chars_out,
  CAST(length(text) AS BIGINT) AS n_chars_in,
  CAST(len(kept) >= 1 AS INT) AS doc_kept
FROM kept_docs
"""


# ANSI twin of queries.docs_inverted_index: distinct (doc, term)
# counts then one term-grouped aggregation; postings ordered by
# numeric doc_id (the Spark side sorts BEFORE casting to string for
# the same reason).
ORACLES["docs_inverted_index"] = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS term FROM documents
),
tc AS (
  SELECT doc_id, term, COUNT(*) AS cnt FROM toks GROUP BY doc_id, term
)
SELECT term,
  CAST(COUNT(*) AS BIGINT) AS doc_freq,
  CAST(SUM(cnt) AS BIGINT) AS term_freq,
  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
FROM tc GROUP BY term
ORDER BY doc_freq DESC, term LIMIT 20
"""


def _incremental_dedup_sql(
    num_perm: int = 32,
    bands: int = 16,
    n: int = 5,
    threshold: float = 0.8,
    max_bucket: int = 1000,
    within_batch: bool = False,
) -> str:
    """ANSI twin of queries.docs_incremental_dedup /
    operators/incremental.py under md5_hash31: same history/batch
    split, md5 exact layer, inlined permutation constants, band
    index probe (batch x history only), history-bucket cap, exact
    hashed-shingle Jaccard on candidates, smallest-id partner via
    ROW_NUMBER. With ``within_batch``, adds the opt-in batch
    self-band arm (docs_incremental_dedup_wb): capped batch buckets,
    smaller-id partner, near_dup_batch verdict below near_dup_history."""
    from irclogbot_spark.operators.dedup import _MH_PRIME, _permutation_family

    perms = _permutation_family(num_perm, seed=42)
    rows = num_perm // bands
    lanes = ",\n    ".join(
        f"MIN(({a} * h + {b}) % {_MH_PRIME}) AS s{i}" for i, (a, b) in enumerate(perms)
    )

    def band_selects(src: str) -> str:
        def band_key(j: int) -> str:
            return " || ',' || ".join(
                f"CAST(s{j * rows + r} AS VARCHAR)" for r in range(rows)
            )

        return "\n  UNION ALL\n  ".join(
            f"SELECT doc_id, {j} AS band_idx, {band_key(j)} AS band_key FROM {src}"
            for j in range(bands)
        )

    jac = "CAST(n_common AS DOUBLE) / (s1.ns + s2.ns - n_common)"
    wb_ctes = (
        rf""",
bszb AS (SELECT band_idx, band_key, COUNT(*) AS nb FROM bandb GROUP BY band_idx, band_key),
wb AS (
  SELECT DISTINCT y.doc_id AS bid, x.doc_id AS partner
  FROM bandb x
  JOIN bandb y ON y.band_idx = x.band_idx AND y.band_key = x.band_key
             AND x.doc_id < y.doc_id
  JOIN bszb ON bszb.band_idx = x.band_idx AND bszb.band_key = x.band_key
  WHERE bszb.nb <= {max_bucket}
),
wb_inter AS (
  SELECT w.bid, w.partner, COUNT(*) AS n_common
  FROM wb w
  JOIN allhs h1 ON h1.doc_id = w.bid
  JOIN allhs h2 ON h2.doc_id = w.partner AND h2.h = h1.h
  GROUP BY w.bid, w.partner
),
wb_pairs AS (
  SELECT bid, partner, {jac} AS jaccard
  FROM wb_inter
  JOIN sizes s1 ON s1.doc_id = bid
  JOIN sizes s2 ON s2.doc_id = partner
  WHERE {jac} >= {threshold}
),
near_b AS (
  SELECT bid AS doc_id, partner AS wb_dup_of, jaccard AS wb_jaccard
  FROM (SELECT bid, partner, jaccard,
          ROW_NUMBER() OVER (PARTITION BY bid ORDER BY partner) AS rn
        FROM wb_pairs)
  WHERE rn = 1
)"""
        if within_batch
        else ""
    )
    wb_verdict = (
        "\n       WHEN nb.wb_dup_of IS NOT NULL THEN 'near_dup_batch'"
        if within_batch
        else ""
    )
    wb_dup = ", nb.wb_dup_of" if within_batch else ""
    no_exact = "eh.hist_dup_of IS NULL AND eb.batch_dup_of IS NULL"
    jac_case = (
        f"""CASE WHEN {no_exact} AND nr.near_dup_of IS NOT NULL
       THEN nr.near_jaccard
       WHEN {no_exact} AND nr.near_dup_of IS NULL AND nb.wb_dup_of IS NOT NULL
       THEN nb.wb_jaccard END"""
        if within_batch
        else f"""CASE WHEN {no_exact}
       THEN nr.near_jaccard END"""
    )
    wb_join = "\nLEFT JOIN near_b nb ON nb.doc_id = b.doc_id" if within_batch else ""
    return rf"""
WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 < 8),
batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8),
hfp AS (SELECT md5(text) AS fp, MIN(doc_id) AS hist_dup_of FROM hist GROUP BY md5(text)),
bfp AS (SELECT doc_id, md5(text) AS fp FROM batch),
exact_hist AS (SELECT b.doc_id, h.hist_dup_of FROM bfp b JOIN hfp h USING (fp)),
rem AS (SELECT b.doc_id, b.fp FROM bfp b ANTI JOIN hfp h USING (fp)),
remw AS (SELECT doc_id, fp, MIN(doc_id) OVER (PARTITION BY fp) AS keep_id FROM rem),
exact_batch AS (SELECT doc_id, keep_id AS batch_dup_of FROM remw WHERE doc_id != keep_id),
surv AS (SELECT b.doc_id, b.text FROM batch b JOIN remw r ON r.doc_id = b.doc_id AND r.doc_id = r.keep_id),
th AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM hist),
tb AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM surv),
elh AS (SELECT doc_id, toks FROM th WHERE len(toks) >= {n}),
elb AS (SELECT doc_id, toks FROM tb WHERE len(toks) >= {n}),
mshh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+{n - 1}], ' ') AS shingle
         FROM elh, UNNEST(range(1, len(toks) - {n - 2})) AS r(i)),
mshb AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+{n - 1}], ' ') AS shingle
         FROM elb, UNNEST(range(1, len(toks) - {n - 2})) AS r(i)),
hsh AS (SELECT DISTINCT doc_id,
          CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % {_MH_PRIME} AS h
        FROM mshh),
hsb AS (SELECT DISTINCT doc_id,
          CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % {_MH_PRIME} AS h
        FROM mshb),
sigh AS (SELECT doc_id, {lanes} FROM hsh GROUP BY doc_id),
sigb AS (SELECT doc_id, {lanes} FROM hsb GROUP BY doc_id),
bandh AS (
  {band_selects("sigh")}
),
bandb AS (
  {band_selects("sigb")}
),
bszh AS (SELECT band_idx, band_key, COUNT(*) AS nb FROM bandh GROUP BY band_idx, band_key),
cand AS (
  SELECT DISTINCT b.doc_id AS bid, h.doc_id AS hid
  FROM bandb b
  JOIN bandh h ON h.band_idx = b.band_idx AND h.band_key = b.band_key
  JOIN bszh ON bszh.band_idx = b.band_idx AND bszh.band_key = b.band_key
  WHERE bszh.nb <= {max_bucket}
),
allhs AS (SELECT doc_id, h FROM hsh UNION SELECT doc_id, h FROM hsb),
inter AS (
  SELECT c.bid, c.hid, COUNT(*) AS n_common
  FROM cand c
  JOIN allhs h1 ON h1.doc_id = c.bid
  JOIN allhs h2 ON h2.doc_id = c.hid AND h2.h = h1.h
  GROUP BY c.bid, c.hid
),
sizes AS (SELECT doc_id, COUNT(*) AS ns FROM allhs GROUP BY doc_id),
near_pairs AS (
  SELECT bid, hid, {jac} AS jaccard
  FROM inter
  JOIN sizes s1 ON s1.doc_id = bid
  JOIN sizes s2 ON s2.doc_id = hid
  WHERE {jac} >= {threshold}
),
near AS (
  SELECT bid AS doc_id, hid AS near_dup_of, jaccard AS near_jaccard
  FROM (SELECT bid, hid, jaccard,
          ROW_NUMBER() OVER (PARTITION BY bid ORDER BY hid) AS rn
        FROM near_pairs)
  WHERE rn = 1
){wb_ctes}
SELECT b.doc_id,
  CASE WHEN eh.hist_dup_of IS NOT NULL THEN 'exact_dup_history'
       WHEN eb.batch_dup_of IS NOT NULL THEN 'exact_dup_batch'
       WHEN nr.near_dup_of IS NOT NULL THEN 'near_dup_history'{wb_verdict}
       ELSE 'new' END AS verdict,
  COALESCE(eh.hist_dup_of, eb.batch_dup_of, nr.near_dup_of{wb_dup}) AS dup_of,
  {jac_case} AS jaccard
FROM batch b
LEFT JOIN exact_hist eh ON eh.doc_id = b.doc_id
LEFT JOIN exact_batch eb ON eb.doc_id = b.doc_id
LEFT JOIN near nr ON nr.doc_id = b.doc_id{wb_join}
"""


ORACLES["docs_incremental_dedup"] = _incremental_dedup_sql()
ORACLES["docs_incremental_dedup_wb"] = _incremental_dedup_sql(within_batch=True)


def _budget_cap_sql(budget: int = 2000) -> str:
    """ANSI twin of queries.docs_budget_cap: same portable draw,
    same running-sum admission order (draw, then doc_id)."""
    draw = _portable_draw_sql("budget", "CAST(doc_id AS VARCHAR)")
    return rf"""
WITH t AS (
  SELECT doc_id, source,
    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
    {draw} AS d
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
    CAST(SUM(n_tokens) OVER (
      PARTITION BY source ORDER BY d, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS cum_tokens
  FROM t
)
SELECT source, doc_id, n_tokens, cum_tokens FROM c WHERE cum_tokens <= {budget}
"""


ORACLES["docs_budget_cap"] = _budget_cap_sql()

ORACLES["tpch_q18_big_orders"] = f"""
WITH big AS (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 150
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
  {dsum("l_quantity")} AS sum_qty
FROM orders
SEMI JOIN big ON orders.o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN lineitem ON o_orderkey = lineitem.l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 10
"""


def _quality_score_sql(dim: int = 1024, seed: int = 7, scale: int = 16) -> str:
    """ANSI twin of queries.docs_quality_score / functions/quality.py
    under md5_hash31: the same deterministic quantized weights as a
    VALUES table, token-hash lookup join, exact integer sum, one
    fixed-point division. Integer arithmetic end-to-end until that
    division, so the logit is bit-identical across engines."""
    from irclogbot_spark.functions.quality import quality_weights
    from irclogbot_spark.operators.dedup import _MH_PRIME

    w, bias = quality_weights(dim, seed)
    values = ", ".join(f"({i}, {wt})" for i, wt in enumerate(w))
    return rf"""
WITH w AS (SELECT * FROM (VALUES {values}) AS t(i, wt)),
tk AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
h AS (SELECT doc_id,
        (CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % {_MH_PRIME}) % {dim} AS i
      FROM tok),
s AS (SELECT doc_id, SUM(wt) AS sw, COUNT(*) AS n FROM h JOIN w USING (i) GROUP BY doc_id)
SELECT d.doc_id,
  COALESCE(s.n, 0) AS n_tokens,
  CAST({bias} + COALESCE(s.sw, 0) AS DOUBLE)
    / ({scale} * GREATEST(COALESCE(s.n, 0), 1)) AS quality_logit,
  CAST({bias} + COALESCE(s.sw, 0) AS DOUBLE)
    / ({scale} * GREATEST(COALESCE(s.n, 0), 1)) >= 0 AS q_keep
FROM documents d LEFT JOIN s USING (doc_id)
"""


ORACLES["docs_quality_score"] = _quality_score_sql()


def _adaptive_quality_sql(dim: int = 1024, seed: int = 7, scale: int = 16) -> str:
    """ANSI twin of queries.docs_adaptive_quality: the same md5-hashed
    quantized-weight logit, then a per-source quantile_cont(0.25)
    threshold (bit-identical to Spark's F.percentile — same (n-1)*q
    linear interpolation) and the >= filter. The logit CTE is
    MATERIALIZED: both the threshold aggregate and the final filter
    read it, and DuckDB re-evaluates multiply-referenced plain CTEs."""
    from irclogbot_spark.functions.quality import quality_weights
    from irclogbot_spark.operators.dedup import _MH_PRIME

    w, bias = quality_weights(dim, seed)
    values = ", ".join(f"({i}, {wt})" for i, wt in enumerate(w))
    return rf"""
WITH w AS (SELECT * FROM (VALUES {values}) AS t(i, wt)),
tk AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
h AS (SELECT doc_id,
        (CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % {_MH_PRIME}) % {dim} AS i
      FROM tok),
s AS (SELECT doc_id, SUM(wt) AS sw, COUNT(*) AS n FROM h JOIN w USING (i) GROUP BY doc_id),
q AS MATERIALIZED (
  SELECT d.doc_id, d.source,
    CAST({bias} + COALESCE(s.sw, 0) AS DOUBLE)
      / ({scale} * GREATEST(COALESCE(s.n, 0), 1)) AS quality_logit
  FROM documents d LEFT JOIN s USING (doc_id)
),
thr AS (
  SELECT source, quantile_cont(quality_logit, 0.25) AS thr
  FROM q GROUP BY source
)
SELECT doc_id, q.source, quality_logit,
  CAST(floor(thr * 1000000) AS BIGINT) AS thr_micro
FROM q JOIN thr ON q.source = thr.source
WHERE quality_logit >= thr
"""


ORACLES["docs_adaptive_quality"] = _adaptive_quality_sql()


def _keep_best_sql(dim: int = 1024, seed: int = 7, scale: int = 16) -> str:
    """ANSI twin of queries.docs_dedup_keep_best /
    operators/dedup.keep_best_dedup: the docs_dedup_pipeline grouping
    (md5 exact fingerprints + recursive-CTE connected components over
    the exact Jaccard pair set, group_id = LEAST(exact_keeper,
    cluster_id)) with the keeper re-picked as the highest
    quality-logit member, ties to the smallest id — ROW_NUMBER
    (score DESC, doc_id ASC) mirrors the Spark side's
    max-of-(score, -id)-struct argmax exactly, and the logit itself
    is the bit-exact integer form from _quality_score_sql."""
    from irclogbot_spark.functions.quality import quality_weights
    from irclogbot_spark.operators.dedup import _MH_PRIME

    w, bias = quality_weights(dim, seed)
    values = ", ".join(f"({i}, {wt})" for i, wt in enumerate(w))
    return rf"""
WITH RECURSIVE {_SHINGLES_CTE}, {_COMPONENTS_CTE},
w AS (SELECT * FROM (VALUES {values}) AS t(i, wt)),
tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok FROM documents),
hh AS (SELECT doc_id,
        (CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % {_MH_PRIME}) % {dim} AS i
      FROM tok),
sc0 AS (SELECT doc_id, SUM(wt) AS sw, COUNT(*) AS n FROM hh JOIN w USING (i) GROUP BY doc_id),
score AS (
  SELECT d.doc_id,
    CAST({bias} + COALESCE(sc0.sw, 0) AS DOUBLE)
      / ({scale} * GREATEST(COALESCE(sc0.n, 0), 1)) AS score
  FROM documents d LEFT JOIN sc0 USING (doc_id)
),
fp AS (SELECT doc_id, md5(text) AS fingerprint FROM documents),
ek AS (SELECT fingerprint, MIN(doc_id) AS ek FROM fp GROUP BY fingerprint),
grp AS (
  SELECT f.doc_id, LEAST(e.ek, COALESCE(c.cluster_id, f.doc_id)) AS group_id
  FROM fp f
  JOIN ek e ON f.fingerprint = e.fingerprint
  LEFT JOIN comp c ON c.doc_id = f.doc_id
),
best AS (
  SELECT group_id, doc_id AS keeper_id FROM (
    SELECT g.group_id, g.doc_id,
      ROW_NUMBER() OVER (
        PARTITION BY g.group_id ORDER BY s.score DESC, g.doc_id ASC) AS rn
    FROM grp g JOIN score s ON s.doc_id = g.doc_id) WHERE rn = 1
)
SELECT g.doc_id, g.group_id, s.score,
  g.doc_id = b.keeper_id AS kept, b.keeper_id
FROM grp g
JOIN score s ON s.doc_id = g.doc_id
JOIN best b ON b.group_id = g.group_id
"""


ORACLES["docs_dedup_keep_best"] = _keep_best_sql()


def _temperature_mix_sql(budget_frac: float = 0.5) -> str:
    """ANSI twin of queries.docs_temperature_mix: identical operation
    order (quantized sqrt shares summed as integers, the one float
    division chain written in the same association, integer draw
    threshold), so p_keep and membership are bit-identical."""
    draw = _portable_draw_sql("temp", "CAST(d.doc_id AS VARCHAR)")
    bf = f"{budget_frac:.17e}"
    return rf"""
WITH n AS (SELECT source, COUNT(*) AS n_g FROM documents GROUP BY source),
n2 AS (SELECT source, n_g,
         CAST(floor(sqrt(CAST(n_g AS DOUBLE)) * 1048576.0e0) AS BIGINT) AS sq_g
       FROM n),
tot AS (SELECT SUM(n_g) AS n_total, SUM(sq_g) AS zq FROM n2),
p AS (SELECT source,
        LEAST(1.0e0, (({bf} * CAST(n_total AS DOUBLE)) * CAST(sq_g AS DOUBLE))
                     / CAST(zq AS DOUBLE) / CAST(n_g AS DOUBLE)) AS p_keep
      FROM n2 CROSS JOIN tot)
SELECT d.source, d.doc_id, p.p_keep
FROM documents d JOIN p USING (source)
WHERE {draw} < CAST(floor(p_keep * 1000000.0e0) AS BIGINT)
"""


ORACLES["docs_temperature_mix"] = _temperature_mix_sql()


def _chunking_sql(chunk: int = 64, overlap: int = 16) -> str:
    """ANSI twin of queries.docs_chunking: same \\S+ tokens, same
    start grid (1, 1+step, ...), inclusive list slicing, short final
    window; empty docs emit no rows (range(1, 1) is empty)."""
    step = chunk - overlap
    return rf"""
WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
s AS (SELECT doc_id, toks, len(toks) AS n FROM t),
c AS (SELECT doc_id, toks, n, unnest(range(1, n + 1, {step})) AS st FROM s)
SELECT doc_id,
  CAST((st - 1) / {step} AS BIGINT) AS chunk_idx,
  CAST(st AS BIGINT) AS start_token,
  CAST(LEAST({chunk}, n - st + 1) AS BIGINT) AS n_tokens,
  array_to_string(toks[st : st + {chunk} - 1], ' ') AS chunk_text
FROM c
"""


ORACLES["docs_chunking"] = _chunking_sql()


def _ivf_recall_sql() -> str:
    """emb_ann_recall's twin for the IVF path: the (data-dependent)
    IVF top-k SQL nested as a CTE, joined against exact kNN."""
    ivf = _ivf_topk_sql()
    return f"""
WITH ivf AS ({ivf}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qb AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
exact_scored AS (
  SELECT q.query_id, c.vec_id,
    list_dot_product(c.v, q.qv)
      / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
  FROM e c JOIN qb q ON c.vec_id <> q.query_id
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS knn_rank
    FROM exact_scored
  ) WHERE knn_rank <= 5
),
hits AS (
  SELECT a.query_id, COUNT(*) AS n_hits
  FROM ivf a JOIN exact x ON a.query_id = x.query_id AND a.vec_id = x.vec_id
  GROUP BY a.query_id
),
base AS (SELECT DISTINCT vec_id AS query_id FROM embeddings WHERE vec_id IN (0, 1, 2))
SELECT base.query_id,
  COALESCE(n_hits, 0) AS n_hits,
  CAST(COALESCE(n_hits, 0) AS DOUBLE) / 5.0 AS recall_at_5
FROM base LEFT JOIN hits ON base.query_id = hits.query_id
"""


# ANSI twin of queries.docs_tfidf_topk / functions/text.py
# tfidf_topk: per-doc tf, df over distinct (doc, term), rational idf
# N/df (the bm25_rank no-ln rule), score = CAST(tf AS DOUBLE) * N /
# df — the identical two-op IEEE tree — and ROW_NUMBER ties broken
# on the term string, matching the Spark side's (-score, term)
# struct-sort key.
ORACLES["docs_tfidf_topk"] = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS term FROM documents
),
tc AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, COUNT(*) AS df FROM tc GROUP BY term
),
n AS (SELECT COUNT(*) AS n FROM documents),
scored AS (
  SELECT doc_id, term, tf, CAST(tf AS DOUBLE) * n / df AS score
  FROM tc JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tf, score,
    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, score
FROM ranked WHERE rank <= 3
"""


# ANSI twin of queries.docs_crossdup_remove /
# operators/crossdup.remove_duplicate_spans under md5_hash31:
# POSITIONAL 20-token span hashes (0-based start), per-hash owner =
# MIN(doc_id), covered starts for non-owner docs, and the in-row
# token filter replicated as a positional anti-join + ordered
# string_agg rebuild. Empty results coalesce to '' exactly as
# array_join does on an empty array.
ORACLES["docs_crossdup_remove"] = r"""
WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
sp AS (
  SELECT doc_id, i - 1 AS pos,
    CAST('0x' || substr(md5(array_to_string(toks[i:i+19], ' ')), 1, 15) AS BIGINT)
      % 2147483647 AS h
  FROM t, UNNEST(range(1, len(toks) - 18)) AS r(i)
  WHERE len(toks) >= 20
),
own AS (SELECT h, MIN(doc_id) AS owner FROM sp GROUP BY h),
cov AS (
  SELECT s.doc_id, s.pos FROM sp s JOIN own o ON o.h = s.h WHERE s.doc_id <> o.owner
),
tokpos AS (
  SELECT doc_id, i - 1 AS ti, toks[i] AS tok
  FROM t, UNNEST(range(1, len(toks) + 1)) AS r(i)
),
removed AS (
  SELECT DISTINCT tp.doc_id, tp.ti
  FROM tokpos tp JOIN cov c
    ON c.doc_id = tp.doc_id AND tp.ti >= c.pos AND tp.ti < c.pos + 20
),
kept AS (
  SELECT tp.doc_id, tp.ti, tp.tok
  FROM tokpos tp LEFT JOIN removed r ON r.doc_id = tp.doc_id AND r.ti = tp.ti
  WHERE r.ti IS NULL
),
agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY ti) AS text_clean,
    COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, COALESCE(a.text_clean, '') AS text_clean,
  len(t.toks) AS n_tokens,
  len(t.toks) - COALESCE(a.n_kept, 0) AS n_removed
FROM t LEFT JOIN agg a ON a.doc_id = t.doc_id
"""


# ANSI twin of queries.docs_hybrid_search / operators/hybrid.py:
# the docs_bm25_search scoring expression ranked to top-20
# (ROW_NUMBER score DESC, doc_id ASC), the exact-cosine top-20 for
# query vec 0 (the knn_join expression tree: list_dot_product /
# (sqrt * sqrt), self excluded), and the RRF fusion written as the
# same COALESCE(1.0/(60 + r), 0.0) + COALESCE(...) chain — all
# rank-based, so bit-exact across engines.
ORACLES["docs_hybrid_search"] = r"""
WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
base AS (
  SELECT doc_id, len(toks) AS dl,
    len(list_filter(toks, x -> x = 'the')) AS tf0,
    len(list_filter(toks, x -> x = 'data')) AS tf1
  FROM t
),
stats AS (
  SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n,
    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1
  FROM base
),
bm AS (
  SELECT doc_id,
    ((CAST(n - df0 AS DOUBLE) + 0.5) / (df0 + 0.5))
      * ((tf0 * CAST(1.2 + 1.0 AS DOUBLE)) / (tf0 + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / avgdl)))
    + ((CAST(n - df1 AS DOUBLE) + 0.5) / (df1 + 0.5))
      * ((tf1 * CAST(1.2 + 1.0 AS DOUBLE)) / (tf1 + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / avgdl))) AS score
  FROM base, stats
),
text_ranked AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS text_rank
  FROM (SELECT doc_id, score FROM bm ORDER BY score DESC, doc_id LIMIT 20)
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id = 0),
vec_ranked AS (
  SELECT vec_id AS doc_id, knn_rank AS vec_rank FROM (
    SELECT c.vec_id,
      ROW_NUMBER() OVER (ORDER BY
        list_dot_product(c.v, q.qv)
          / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))) DESC,
        c.vec_id ASC) AS knn_rank
    FROM e c CROSS JOIN q WHERE c.vec_id <> q.query_id
  ) WHERE knn_rank <= 20
)
SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
  t.text_rank, v.vec_rank,
  COALESCE(1.0 / (60 + t.text_rank), 0.0)
    + COALESCE(1.0 / (60 + v.vec_rank), 0.0) AS rrf_score
FROM text_ranked t FULL OUTER JOIN vec_ranked v ON t.doc_id = v.doc_id
ORDER BY rrf_score DESC, COALESCE(t.doc_id, v.doc_id) ASC LIMIT 10
"""


def _pq_topk_sql(
    k: int = 5, n_sub: int = 8, n_codes: int = 16, n_iter: int = 5, rerank: int = 20
) -> str:
    """ANSI twin of operators.pq.pq_topk with the LEARNED codebooks
    inlined (same replica-trainer recipe as _ivf_topk_sql): identical
    per-subspace encoding (first argmax of the biased dot, ties to
    the smallest code), identical per-query ADC lookup values
    ((q2 - 2*dot) + c2, the Spark lut expression tree), the ADC sum
    as the same left-to-right 0.0 + pd0 + ... + pd7 chain the
    F.aggregate fold evaluates, and the exact-cosine rerank of the
    ADC top-R. Codeword vectors route through a VALUES table so
    list_dot_product runs the data x data kernel (see the
    bit-exactness notes on _semantic_dedup_sql); the squared-norm /
    bias plan constants are e-notation literals computed by the SAME
    Python fold the Spark plan inlines."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    key = ("pq", sf_dir, k, n_sub, n_codes, n_iter, rerank)
    if key in _IVF_SQL_CACHE:
        return _IVF_SQL_CACHE[key]

    import duckdb

    from irclogbot_spark.operators.pq import _fold_sq, train_pq_codebooks_local

    path = os.path.join(sf_dir, "embeddings.parquet")
    rows = duckdb.sql(
        f"SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM '{path}' ORDER BY vec_id"
    ).fetchall()
    books = train_pq_codebooks_local(
        [(r[0], list(r[1])) for r in rows], n_sub, n_codes, n_iter
    )
    dim = len(rows[0][1])
    sub = dim // n_sub
    values = ", ".join(
        "({m}, {c}, [{xs}]::DOUBLE[], {c2}, {bias})".format(
            m=m,
            c=c,
            xs=", ".join(f"{x:.17e}" for x in cw),
            c2=f"{_fold_sq(cw):.17e}",
            bias=f"{_fold_sq(cw) / 2.0:.17e}",
        )
        for m, book in enumerate(books)
        for c, cw in enumerate(book)
    )
    esub = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, v[{m * sub + 1}:{(m + 1) * sub}] AS sv FROM e"
        for m in range(n_sub)
    )
    qsub = " UNION ALL ".join(
        f"SELECT query_id, {m} AS m, qv[{m * sub + 1}:{(m + 1) * sub}] AS sv FROM q"
        for m in range(n_sub)
    )
    encp_cols = ",\n    ".join(
        f"MAX(CASE WHEN m = {m} THEN code END) AS c{m}" for m in range(n_sub)
    )
    pd_joins = "\n  ".join(
        f"JOIN pd p{m} ON p{m}.query_id = q.query_id AND p{m}.m = {m} AND p{m}.c = ec.c{m}"
        for m in range(n_sub)
    )
    adc_chain = " + ".join(f"p{m}.pd" for m in range(n_sub))
    sql = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cw AS (SELECT * FROM (VALUES {values}) AS t(m, c, cvec, c2, bias)),
esub AS ({esub}),
escore AS (
  SELECT es.vec_id, es.m, cw.c,
    list_dot_product(es.sv, cw.cvec) - cw.bias AS s
  FROM esub es JOIN cw ON cw.m = es.m
),
enc AS (
  SELECT vec_id, m, c AS code FROM (
    SELECT vec_id, m, c,
      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY s DESC, c ASC) AS rn
    FROM escore) WHERE rn = 1
),
ec AS (SELECT vec_id,
    {encp_cols}
  FROM enc GROUP BY vec_id),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
qsub AS ({qsub}),
pd AS (
  SELECT qs.query_id, qs.m, cw.c,
    list_dot_product(qs.sv, qs.sv) - 2.0 * list_dot_product(qs.sv, cw.cvec) + cw.c2 AS pd
  FROM qsub qs JOIN cw ON cw.m = qs.m
),
adc AS (
  SELECT q.query_id, ec.vec_id, 0.0 + {adc_chain} AS adc_dist
  FROM ec CROSS JOIN q
  {pd_joins}
  WHERE ec.vec_id <> q.query_id
),
cand AS (
  SELECT query_id, vec_id, adc_dist FROM (
    SELECT query_id, vec_id, adc_dist,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, vec_id ASC) AS arn
    FROM adc) WHERE arn <= {rerank}
),
rr AS (
  SELECT c.query_id, c.vec_id, c.adc_dist,
    list_dot_product(cv.v, q.qv)
      / (sqrt(list_dot_product(cv.v, cv.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
  FROM cand c JOIN e cv ON cv.vec_id = c.vec_id JOIN q ON q.query_id = c.query_id
)
SELECT query_id, vec_id, adc_dist, cosine, pq_rank FROM (
  SELECT query_id, vec_id, adc_dist, cosine,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS pq_rank
  FROM rr) WHERE pq_rank <= {k}
"""
    _IVF_SQL_CACHE[key] = sql
    return sql


def _ivfpq_topk_sql(
    k: int = 5,
    n_cells: int = 16,
    n_iter: int = 5,
    n_probe: int = 4,
    n_sub: int = 8,
    n_codes: int = 16,
    rerank: int = 20,
) -> str:
    """ANSI twin of operators.pq.ivfpq_topk — the _ivf_topk_sql cell
    assignment + probe CTEs composed with the _pq_topk_sql encoding /
    lookup-table CTEs (both learned tables re-trained by their
    bit-identical local replicas and inlined), candidates restricted
    to probed cells, ADC as the same 0.0 + pd0 + ... chain, exact
    cosine rerank of the ADC top-R."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    key = ("ivfpq", sf_dir, k, n_cells, n_iter, n_probe, n_sub, n_codes, rerank)
    if key in _IVF_SQL_CACHE:
        return _IVF_SQL_CACHE[key]

    import duckdb

    from irclogbot_spark.operators.pq import _fold_sq, train_pq_codebooks_local
    from irclogbot_spark.operators.similarity import train_ivf_centroids_local

    path = os.path.join(sf_dir, "embeddings.parquet")
    rows = duckdb.sql(
        f"SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM '{path}' ORDER BY vec_id"
    ).fetchall()
    tup = [(r[0], list(r[1])) for r in rows]
    cents = train_ivf_centroids_local(tup, n_cells, n_iter)
    books = train_pq_codebooks_local(tup, n_sub, n_codes, n_iter)
    dim = len(rows[0][1])
    sub = dim // n_sub
    clits = ["[" + ", ".join(f"{x:.17e}" for x in c) + "]" for c in cents]
    dots_list = "[" + ", ".join(f"list_dot_product(v, {l})" for l in clits) + "]"
    negdot_structs = "[" + ", ".join(
        f"{{'negdot': -list_dot_product(qv, {clits[j]}), 'cell': {j}}}"
        for j in range(n_cells)
    ) + "]"
    values = ", ".join(
        "({m}, {c}, [{xs}]::DOUBLE[], {c2}, {bias})".format(
            m=m,
            c=c,
            xs=", ".join(f"{x:.17e}" for x in cw),
            c2=f"{_fold_sq(cw):.17e}",
            bias=f"{_fold_sq(cw) / 2.0:.17e}",
        )
        for m, book in enumerate(books)
        for c, cw in enumerate(book)
    )
    esub = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, v[{m * sub + 1}:{(m + 1) * sub}] AS sv FROM e"
        for m in range(n_sub)
    )
    qsub = " UNION ALL ".join(
        f"SELECT query_id, {m} AS m, qv[{m * sub + 1}:{(m + 1) * sub}] AS sv FROM qd"
        for m in range(n_sub)
    )
    # NOTE: the ADC sum is NOT built as n_sub self-joins of pd — an
    # 8-way self-join sent DuckDB's join-order planner into a
    # memory-exploding ordering; instead candidate (query, vec, m)
    # rows join pd ONCE and a per-m MAX(CASE) extraction rebuilds the
    # same left-to-right 0.0 + pd0 + ... chain the Spark fold runs.
    adc_chain = " + ".join(
        f"MAX(CASE WHEN m = {m} THEN pdv END)" for m in range(n_sub)
    )
    sql = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ca AS (SELECT vec_id, v, {dots_list} AS dots FROM e),
cb AS (SELECT vec_id, v,
         CAST(list_position(dots, list_max(dots)) - 1 AS INT) AS cell FROM ca),
cw AS (SELECT * FROM (VALUES {values}) AS t(m, c, cvec, c2, bias)),
esub AS ({esub}),
escore AS (
  SELECT es.vec_id, es.m, cw.c,
    list_dot_product(es.sv, cw.cvec) - cw.bias AS s
  FROM esub es JOIN cw ON cw.m = es.m
),
enc AS (
  SELECT vec_id, m, c AS code FROM (
    SELECT vec_id, m, c,
      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY s DESC, c ASC) AS rn
    FROM escore) WHERE rn = 1
),
qd AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
qcell AS (SELECT query_id, qv, unnest({negdot_structs}) AS pc FROM qd),
qprobe AS (
  SELECT query_id, cell FROM (
    SELECT query_id, pc.cell AS cell,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY pc.negdot, pc.cell) AS rn
    FROM qcell
  ) WHERE rn <= {n_probe}
),
qsub AS ({qsub}),
pd AS (
  SELECT qs.query_id, qs.m, cw.c,
    list_dot_product(qs.sv, qs.sv) - 2.0 * list_dot_product(qs.sv, cw.cvec) + cw.c2 AS pd
  FROM qsub qs JOIN cw ON cw.m = qs.m
),
candcells AS (
  SELECT qp.query_id, cb.vec_id
  FROM cb JOIN qprobe qp ON qp.cell = cb.cell
  WHERE cb.vec_id <> qp.query_id
),
adcrows AS (
  SELECT cc.query_id, cc.vec_id, en.m, p.pd AS pdv
  FROM candcells cc
  JOIN enc en ON en.vec_id = cc.vec_id
  JOIN pd p ON p.query_id = cc.query_id AND p.m = en.m AND p.c = en.code
),
adc AS (
  SELECT query_id, vec_id, 0.0 + {adc_chain} AS adc_dist
  FROM adcrows GROUP BY query_id, vec_id
),
cand AS (
  SELECT query_id, vec_id, adc_dist FROM (
    SELECT query_id, vec_id, adc_dist,
      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, vec_id ASC) AS arn
    FROM adc) WHERE arn <= {rerank}
),
rr AS (
  SELECT c.query_id, c.vec_id, c.adc_dist,
    list_dot_product(cv.v, q.qv)
      / (sqrt(list_dot_product(cv.v, cv.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
  FROM cand c JOIN e cv ON cv.vec_id = c.vec_id JOIN qd q ON q.query_id = c.query_id
)
SELECT query_id, vec_id, adc_dist, cosine, pq_rank FROM (
  SELECT query_id, vec_id, adc_dist, cosine,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS pq_rank
  FROM rr) WHERE pq_rank <= {k}
"""
    _IVF_SQL_CACHE[key] = sql
    return sql


# ANSI twin of queries.docs_vocab_coverage / functions/text.py
# vocab_coverage: same \S+ tokens, top-100 by (n DESC, term), the
# running total accumulated over INTEGER counts (cum_n) so no
# windowed float sum exists anywhere, shares and the threshold
# compare are single float ops of exactly-agreed integers.
ORACLES["docs_vocab_coverage"] = r"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(text, '\S+')) AS term FROM documents
),
counts AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY term),
total AS (SELECT SUM(n) AS n_total FROM counts),
top AS (SELECT term, n FROM counts ORDER BY n DESC, term LIMIT 100),
ranked AS (
  SELECT term, n,
    CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term) AS INT) AS rank,
    CAST(SUM(n) OVER (ORDER BY n DESC, term
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS cum_n
  FROM top
)
SELECT rank, term, n, cum_n,
  CAST(n AS DOUBLE) / n_total AS share,
  CAST(cum_n AS DOUBLE) / n_total AS cum_share,
  CAST(cum_n - n AS DOUBLE) < 0.9e0 * CAST(n_total AS DOUBLE) AS in_vocab
FROM ranked CROSS JOIN total
"""


# ANSI twin of queries.events_funnel / operators/behavior.py funnel:
# the k chained window-mins written as nested CTE window passes,
# per-user collapse, integer counts, CASE-guarded single-division
# rates — bit-exact rank-free arithmetic.
ORACLES["events_funnel"] = """
WITH e AS (SELECT user_id, ts, event_type FROM events),
s1 AS (
  SELECT user_id, ts, event_type,
    MIN(CASE WHEN event_type = 'view' THEN ts END)
      OVER (PARTITION BY user_id) AS t1
  FROM e
),
s2 AS (
  SELECT user_id, ts, event_type, t1,
    MIN(CASE WHEN event_type = 'click' AND ts >= t1 THEN ts END)
      OVER (PARTITION BY user_id) AS t2
  FROM s1
),
s3 AS (
  SELECT user_id, t1, t2,
    MIN(CASE WHEN event_type = 'purchase' AND ts >= t2 THEN ts END)
      OVER (PARTITION BY user_id) AS t3
  FROM s2
),
u AS (
  SELECT user_id, MIN(t1) AS t1, MIN(t2) AS t2, MIN(t3) AS t3
  FROM s3 GROUP BY user_id
),
c AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
    CAST(COUNT(t1) AS BIGINT) AS n1,
    CAST(COUNT(t2) AS BIGINT) AS n2,
    CAST(COUNT(t3) AS BIGINT) AS n3
  FROM u
)
SELECT CAST(1 AS INT) AS step, 'view' AS step_name, n1 AS n_reached,
  CASE WHEN n_users > 0 THEN CAST(n1 AS DOUBLE) / n_users END AS conv_from_prev,
  CASE WHEN n1 > 0 THEN CAST(n1 AS DOUBLE) / n1 END AS conv_from_first
FROM c
UNION ALL
SELECT CAST(2 AS INT), 'click', n2,
  CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1 END,
  CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1 END
FROM c
UNION ALL
SELECT CAST(3 AS INT), 'purchase', n3,
  CASE WHEN n2 > 0 THEN CAST(n3 AS DOUBLE) / n2 END,
  CASE WHEN n1 > 0 THEN CAST(n3 AS DOUBLE) / n1 END
FROM c
"""


# ANSI twin of queries.events_funnel_window — the same chained
# window-min funnel with the greedy conversion window: a stage-i
# event qualifies only within [t_{i-1}, t_{i-1} + 2 days]. The
# interval bound is the identical clause on both engines.
ORACLES["events_funnel_window"] = """
WITH e AS (SELECT user_id, ts, event_type FROM events),
s1 AS (
  SELECT user_id, ts, event_type,
    MIN(CASE WHEN event_type = 'view' THEN ts END)
      OVER (PARTITION BY user_id) AS t1
  FROM e
),
s2 AS (
  SELECT user_id, ts, event_type, t1,
    MIN(CASE WHEN event_type = 'click' AND ts >= t1
              AND ts <= t1 + INTERVAL 2 DAY THEN ts END)
      OVER (PARTITION BY user_id) AS t2
  FROM s1
),
s3 AS (
  SELECT user_id, t1, t2,
    MIN(CASE WHEN event_type = 'purchase' AND ts >= t2
              AND ts <= t2 + INTERVAL 2 DAY THEN ts END)
      OVER (PARTITION BY user_id) AS t3
  FROM s2
),
u AS (
  SELECT user_id, MIN(t1) AS t1, MIN(t2) AS t2, MIN(t3) AS t3
  FROM s3 GROUP BY user_id
),
c AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
    CAST(COUNT(t1) AS BIGINT) AS n1,
    CAST(COUNT(t2) AS BIGINT) AS n2,
    CAST(COUNT(t3) AS BIGINT) AS n3
  FROM u
)
SELECT CAST(1 AS INT) AS step, 'view' AS step_name, n1 AS n_reached,
  CASE WHEN n_users > 0 THEN CAST(n1 AS DOUBLE) / n_users END AS conv_from_prev,
  CASE WHEN n1 > 0 THEN CAST(n1 AS DOUBLE) / n1 END AS conv_from_first
FROM c
UNION ALL
SELECT CAST(2 AS INT), 'click', n2,
  CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1 END,
  CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1 END
FROM c
UNION ALL
SELECT CAST(3 AS INT), 'purchase', n3,
  CASE WHEN n2 > 0 THEN CAST(n3 AS DOUBLE) / n2 END,
  CASE WHEN n1 > 0 THEN CAST(n3 AS DOUBLE) / n1 END
FROM c
"""


# ANSI twin of queries.events_retention / operators/behavior.py
# cohort_retention: date_trunc('week') is the same ISO Monday as
# Spark's trunc(_, 'week'); week offsets are exact integer division
# of a multiple of 7; retention is one division of agreed integers.
ORACLES["events_retention"] = """
WITH first AS (
  SELECT user_id, date_trunc('week', MIN(CAST(ts AS DATE))) AS cohort_week
  FROM events GROUP BY user_id
),
weeks AS (
  SELECT DISTINCT user_id, date_trunc('week', CAST(ts AS DATE)) AS wk
  FROM events
),
active AS (
  SELECT DISTINCT w.user_id, f.cohort_week,
    CAST(datediff('day', f.cohort_week, w.wk) / 7 AS INT) AS week_offset
  FROM weeks w JOIN first f ON w.user_id = f.user_id
),
cells AS (
  SELECT cohort_week, week_offset, CAST(COUNT(*) AS BIGINT) AS n_active
  FROM active GROUP BY cohort_week, week_offset
),
sizes AS (
  SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_cohort
  FROM first GROUP BY cohort_week
)
SELECT c.cohort_week, c.week_offset, c.n_active, s.n_cohort,
  CAST(c.n_active AS DOUBLE) / s.n_cohort AS retention
FROM cells c JOIN sizes s ON c.cohort_week = s.cohort_week
"""


# ANSI twin of queries.log_nick_cooccurrence: same capped expansion
# (top-10 nicks per channel), ordered pair convention a < b,
# deterministic total order on the limit.
ORACLES["log_nick_cooccurrence"] = f"""
WITH {IRCLOG_CTE},
cnt AS (SELECT channel, nick, COUNT(*) AS n_msgs FROM irclog GROUP BY channel, nick),
top AS (
  SELECT channel, nick FROM (
    SELECT channel, nick,
      ROW_NUMBER() OVER (PARTITION BY channel ORDER BY n_msgs DESC, nick) AS r
    FROM cnt
  ) WHERE r <= 10
),
pairs AS (
  SELECT a.nick AS nick_a, b.nick AS nick_b, a.channel
  FROM top a JOIN top b ON a.channel = b.channel AND a.nick < b.nick
)
SELECT nick_a, nick_b, CAST(COUNT(DISTINCT channel) AS BIGINT) AS n_shared
FROM pairs GROUP BY nick_a, nick_b
ORDER BY n_shared DESC, nick_a, nick_b LIMIT 15
"""


# ANSI twin of queries.docs_tokenize / functions/text.py
# tokenize_with_vocab: the vocab_coverage ranking filtered to the
# in-vocab rows (same integer-cum_n cutoff rule), 1-based positional
# token explode, left-join lookup with COALESCE(rank, 0), ordered
# string_agg rebuild; empty docs keep an empty string and zero
# counts.
ORACLES["docs_tokenize"] = r"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(text, '\S+')) AS term FROM documents
),
counts AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY term),
total AS (SELECT SUM(n) AS n_total FROM counts),
top AS (SELECT term, n FROM counts ORDER BY n DESC, term LIMIT 100),
ranked AS (
  SELECT term, n,
    CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term) AS INT) AS rank,
    CAST(SUM(n) OVER (ORDER BY n DESC, term
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS cum_n
  FROM top
),
vocab AS (
  SELECT rank, term FROM ranked CROSS JOIN total
  WHERE CAST(cum_n - n AS DOUBLE) < 0.9e0 * CAST(n_total AS DOUBLE)
),
t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ts FROM documents),
pos AS (
  SELECT doc_id, i AS pos, ts[i] AS term
  FROM t, UNNEST(range(1, len(ts) + 1)) AS r(i)
),
look AS (
  SELECT p.doc_id, p.pos,
    CAST(COALESCE(v.rank, 0) AS INT) AS tid,
    v.rank IS NULL AS oov
  FROM pos p LEFT JOIN vocab v ON p.term = v.term
),
agg AS (
  SELECT doc_id,
    string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos) AS token_ids_str,
    CAST(COUNT(*) AS BIGINT) AS n_tokens,
    CAST(COUNT(CASE WHEN oov THEN 1 END) AS BIGINT) AS n_oov
  FROM look GROUP BY doc_id
)
SELECT d.doc_id,
  COALESCE(a.token_ids_str, '') AS token_ids_str,
  COALESCE(a.n_tokens, 0) AS n_tokens,
  COALESCE(a.n_oov, 0) AS n_oov
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""


# ANSI twin of queries.events_range_join / operators/rangejoin.py:
# the bin bucketing is Spark-side physical strategy only — the
# oracle is the PLAIN inequality join the operator's semantics
# define (half-open [start, end)).
ORACLES["events_range_join"] = """
WITH err AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n, MIN(ts) AS w_start
  FROM events WHERE event_type = 'error' GROUP BY day
),
wins AS (
  SELECT w_start, w_start + INTERVAL 6 HOUR AS w_end FROM err WHERE n >= 7
),
j AS (
  SELECT w.w_start, w.w_end, e.user_id, e.event_type
  FROM events e JOIN wins w ON e.ts >= w.w_start AND e.ts < w.w_end
)
SELECT w_start, w_end,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT)
    AS n_purchases
FROM j GROUP BY w_start, w_end
"""


def _reservoir_sample_sql(k: int = 3) -> str:
    """ANSI twin of queries.docs_reservoir_sample: ROW_NUMBER over
    (portable draw, doc_id) per language, keep the k smallest."""
    draw = _portable_draw_sql("reservoir", "CAST(doc_id AS VARCHAR)")
    return f"""
SELECT lang, doc_id, source FROM (
  SELECT lang, doc_id, source,
    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY {draw}, doc_id) AS r
  FROM documents
) WHERE r <= {k}
"""


ORACLES["docs_reservoir_sample"] = _reservoir_sample_sql()


# ANSI twin of queries.docs_winnow_fingerprint / operators/winnow.py:
# ordered k-gram md5_hash31 hashes as (doc, position) rows, the
# window minima as a windowed MIN over position (ROWS BETWEEN CURRENT
# ROW AND w-1 FOLLOWING, positions capped at n-w+1 with the
# short-document degenerate single window), distinct selected values
# per doc, bucket-capped pair join — clause-for-clause the operator's
# semantics; only the in-row/exploded physical split differs.
ORACLES["docs_winnow_fingerprint"] = r"""
WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
grams AS (
  SELECT doc_id, i, array_to_string(toks[i:i+4], ' ') AS shingle
  FROM t, UNNEST(range(1, len(toks) - 3)) AS r(i)
  WHERE len(toks) >= 5
),
hs AS (SELECT doc_id, i,
         CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 2147483647 AS h
       FROM grams),
n AS (SELECT doc_id, MAX(i) AS n_h FROM hs GROUP BY doc_id),
wmin AS (
  SELECT hs.doc_id, hs.i,
    MIN(h) OVER (PARTITION BY hs.doc_id ORDER BY hs.i
                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM hs
),
sel AS (
  SELECT DISTINCT w.doc_id, w.fp
  FROM wmin w JOIN n ON w.doc_id = n.doc_id
  WHERE w.i <= GREATEST(1, n.n_h - 3)
),
sizes AS (SELECT fp, COUNT(*) AS c FROM sel GROUP BY fp),
elig AS (SELECT fp FROM sizes WHERE c BETWEEN 2 AND 50),
capped AS (SELECT s.doc_id, s.fp FROM sel s JOIN elig e ON s.fp = e.fp),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_shared FROM pairs
ORDER BY n_shared DESC, doc_a, doc_b LIMIT 20
"""


# docs_bm25_indexed serves the SAME logical query from the
# materialized postings/doclens index; its scores are engineered
# bit-identical to the scan form, so the corpus-scan oracle doubles
# as a physical-path differential (index dataflow vs SQL re-scan).
ORACLES["docs_bm25_indexed"] = ORACLES["docs_bm25_search"]
# docs_bm25_atrest (round 10): the SAME logical query served from the
# at-rest bucket-partitioned POSITIONAL index — third physical path
# on the one BM25 oracle (the docs_phrase_search_atrest convention).
ORACLES["docs_bm25_atrest"] = ORACLES["docs_bm25_search"]

# search_after page 2 (round 11): the same scored frame, page 1's
# last hit (smallest score, largest doc_id within the top-10) as the
# keyset cursor, then the strictly-after cut re-ranked. Mirrors
# queries.docs_bm25_search_after_atrest / textindex.py
# bm25_search_after_atrest. NOTE the hit-set caveat shared with every
# indexed BM25 twin: the index only sees docs with >= 1 query-term
# hit; zero-hit docs score exactly 0.0 in this scan-form SQL, so the
# two agree whenever ranks 1-20 all have hits (they do on the
# synthetic corpus for 'the data' — pinned by the parity suite).
ORACLES["docs_bm25_search_after_atrest"] = r"""
WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
base AS (
  SELECT doc_id, len(toks) AS dl,
    len(list_filter(toks, x -> x = 'the')) AS tf0,
    len(list_filter(toks, x -> x = 'data')) AS tf1
  FROM t
),
stats AS (
  SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n,
    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1
  FROM base
),
scored AS (
  SELECT doc_id,
    ((CAST(n - df0 AS DOUBLE) + 0.5) / (df0 + 0.5))
      * ((tf0 * CAST(1.2 + 1.0 AS DOUBLE)) / (tf0 + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / avgdl)))
    + ((CAST(n - df1 AS DOUBLE) + 0.5) / (df1 + 0.5))
      * ((tf1 * CAST(1.2 + 1.0 AS DOUBLE)) / (tf1 + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / avgdl))) AS score
  FROM base, stats
),
page1 AS (SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT 10),
cur AS (SELECT score AS cs, doc_id AS cid FROM page1 ORDER BY score ASC, doc_id DESC LIMIT 1)
SELECT s.doc_id, s.score
FROM scored s, cur
WHERE s.score < cur.cs OR (s.score = cur.cs AND s.doc_id > cur.cid)
ORDER BY s.score DESC, s.doc_id LIMIT 10
"""
# ES bool query (round 11): must 'data', should 'spark'/'merge'
# (msm=1), must_not 'dup', filter dl BETWEEN 20 AND 120. Score = the
# BM25 per-term contributions of must + should terms in declaration
# order (tf=0 should terms contribute exactly 0.0); gates are
# non-scoring. Mirrors operators/boolquery.py bool_search over
# either term source — two physical paths, one value hash.
_BOOL_TERM = (
    "((CAST(n - df{i} AS DOUBLE) + 0.5) / (df{i} + 0.5))"
    " * ((tf{i} * CAST(1.2 + 1.0 AS DOUBLE))"
    " / (tf{i} + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / avgdl)))"
)
ORACLES["docs_bool_search"] = rf"""
WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
base AS (
  SELECT doc_id, len(toks) AS dl,
    len(list_filter(toks, x -> x = 'data')) AS tf0,
    len(list_filter(toks, x -> x = 'spark')) AS tf1,
    len(list_filter(toks, x -> x = 'merge')) AS tf2,
    len(list_filter(toks, x -> x = 'dup')) AS tf3
  FROM t
),
stats AS (
  SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n,
    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
    SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
  FROM base
)
SELECT doc_id,
  {_BOOL_TERM.format(i=0)}
  + {_BOOL_TERM.format(i=1)}
  + {_BOOL_TERM.format(i=2)} AS score,
  CAST((CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)
     + (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_should
FROM base, stats
WHERE tf0 > 0 AND tf3 = 0 AND dl BETWEEN 20 AND 120
  AND (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)
    + (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) >= 1
ORDER BY score DESC, doc_id LIMIT 10
"""
ORACLES["docs_bool_search_atrest"] = ORACLES["docs_bool_search"]

# ES dis_max (round 11): terms scan/merge/vector, tie_breaker 0.3.
# score = GREATEST(per-term BM25) + 0.3 * (fixed-order sum -
# GREATEST) — the identical expression tree Spark assembles
# (operators/boolquery.py dis_max_search), so the doubles
# value-hash. A doc matches when >= 1 term matches.
_DM_TERMS = ["scan", "merge", "vector"]
_DM_SCORE = " + ".join(_BOOL_TERM.format(i=i) for i in range(3))
_DM_BEST = (
    "GREATEST(" + ", ".join(_BOOL_TERM.format(i=i) for i in range(3)) + ")"
)
ORACLES["docs_dis_max_search"] = rf"""
WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
base AS (
  SELECT doc_id, len(toks) AS dl,
    len(list_filter(toks, x -> x = '{_DM_TERMS[0]}')) AS tf0,
    len(list_filter(toks, x -> x = '{_DM_TERMS[1]}')) AS tf1,
    len(list_filter(toks, x -> x = '{_DM_TERMS[2]}')) AS tf2
  FROM t
),
stats AS (
  SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n,
    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
    SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
  FROM base
)
SELECT doc_id,
  {_DM_BEST} + 0.3 * (({_DM_SCORE}) - {_DM_BEST}) AS score
FROM base, stats
WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
ORDER BY score DESC, doc_id LIMIT 10
"""
ORACLES["docs_dis_max_search_atrest"] = ORACLES["docs_dis_max_search"]

# ES boosting (round 11): positive batch/window (fixed-order BM25
# sum over >= 1-match docs), negative 'slow' demotes x0.5 — one
# multiplication on the shared tree (boolquery.py boosting_search).
ORACLES["docs_boosting_search"] = rf"""
WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
base AS (
  SELECT doc_id, len(toks) AS dl,
    len(list_filter(toks, x -> x = 'batch')) AS tf0,
    len(list_filter(toks, x -> x = 'window')) AS tf1,
    len(list_filter(toks, x -> x = 'slow')) AS tf2
  FROM t
),
stats AS (
  SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n,
    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1
  FROM base
)
SELECT doc_id,
  ({_BOOL_TERM.format(i=0)} + {_BOOL_TERM.format(i=1)})
    * (CASE WHEN tf2 > 0 THEN 0.5 ELSE 1.0 END) AS score
FROM base, stats
WHERE tf0 > 0 OR tf1 > 0
ORDER BY score DESC, doc_id LIMIT 10
"""
ORACLES["docs_boosting_search_atrest"] = ORACLES["docs_boosting_search"]

# ES constant_score (round 11): pure filter-context — both terms
# present + the dl range, every hit scores exactly the boost; id is
# the page's sort key (scores are all equal by construction).
ORACLES["docs_constant_score"] = r"""
WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents)
SELECT doc_id, CAST(1.5 AS DOUBLE) AS score
FROM t
WHERE len(list_filter(toks, x -> x = 'data')) > 0
  AND len(list_filter(toks, x -> x = 'merge')) > 0
  AND len(toks) BETWEEN 20 AND 120
ORDER BY doc_id LIMIT 20
"""
ORACLES["docs_constant_score_atrest"] = ORACLES["docs_constant_score"]

# ES function_score (round 11): 'data batch' BM25 sum x
# (0.001 * n_chars field boost) x (linear decay around n_chars=300,
# scale 200, decay 0.5 -> s=400) — multiply/multiply modes, every
# factor rational arithmetic on the shared tree
# (boolquery.py function_score_search).
ORACLES["docs_function_score"] = rf"""
WITH t AS (
  SELECT doc_id, n_chars, regexp_extract_all(text, '\S+') AS toks FROM documents
),
base AS (
  SELECT doc_id, n_chars, len(toks) AS dl,
    len(list_filter(toks, x -> x = 'data')) AS tf0,
    len(list_filter(toks, x -> x = 'batch')) AS tf1
  FROM t
),
stats AS (
  SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n,
    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1
  FROM base
)
SELECT doc_id,
  ({_BOOL_TERM.format(i=0)} + {_BOOL_TERM.format(i=1)})
  * ((CAST(0.001 AS DOUBLE) * COALESCE(CAST(n_chars AS DOUBLE), 1.0))
     * GREATEST(0.0, (400.0 - ABS(n_chars - 300)) / 400.0)) AS score
FROM base, stats
WHERE tf0 > 0 OR tf1 > 0
ORDER BY score DESC, doc_id LIMIT 10
"""
ORACLES["docs_function_score_atrest"] = ORACLES["docs_function_score"]

_RECENCY_TERM = "((CAST(n - df0 AS DOUBLE) + 0.5) / (df0 + 0.5)) * ((tf0 * CAST(1.2 + 1.0 AS DOUBLE)) / (tf0 + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / avgdl)))"

# Recency-boosted log search (round 11): BM25 of the remark term
# '69}' x the exact linear time decay (origin 2024-01-31 UTC,
# scale 15 d, decay 0.5 -> s = 30 d) over the replayed irclog —
# mirrors queries.log_recency_search / boolquery.py
# function_score_search.
ORACLES["log_recency_search"] = (
    "WITH " + IRCLOG_CTE + r""",
t AS (
  SELECT id, CAST(epoch(posted) AS BIGINT) AS posted_epoch,
    regexp_extract_all(remark, '\S+') AS toks
  FROM irclog
),
base AS (
  SELECT id, posted_epoch, len(toks) AS dl,
    len(list_filter(toks, x -> x = '69}')) AS tf0
  FROM t
),
stats AS (
  SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n,
    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0
  FROM base
)
SELECT id,
  """ + _RECENCY_TERM + r"""
  * GREATEST(0.0, (2592000.0 - ABS(posted_epoch - 1706659200)) / 2592000.0) AS score
FROM base, stats
WHERE tf0 > 0
ORDER BY score DESC, id LIMIT 10
"""
)

# ES multi_match type=best_fields (round 12): 'spark merge' over
# title^2 (first-8-tokens synthesized short field) + text^1,
# tie_breaker 0.3. Per-FIELD BM25 (each field has its own dl/avgdl/
# df — a field is its own corpus), fixed-order per-field sums times
# the boost, dis_max combine max + 0.3*(sum - max). Mirrors
# operators/multimatch.py multi_match — two physical
# paths (scan + per-field at-rest indexes), one value hash.
_MM_TERM = (
    "((CAST(n - df_{f}_{i} AS DOUBLE) + 0.5) / (df_{f}_{i} + 0.5))"
    " * ((tf_{f}_{i} * CAST(1.2 + 1.0 AS DOUBLE))"
    " / (tf_{f}_{i} + 1.2 * ((1.0 - 0.75) + (0.75 * dl_{f}) / avgdl_{f})))"
)

ORACLES["docs_multi_match"] = rf"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS btoks FROM documents
),
f AS (SELECT doc_id, btoks, btoks[1:8] AS ttoks FROM t),
base AS (
  SELECT doc_id,
    len(ttoks) AS dl_title, len(btoks) AS dl_text,
    len(list_filter(ttoks, x -> x = 'spark')) AS tf_title_0,
    len(list_filter(ttoks, x -> x = 'merge')) AS tf_title_1,
    len(list_filter(btoks, x -> x = 'spark')) AS tf_text_0,
    len(list_filter(btoks, x -> x = 'merge')) AS tf_text_1
  FROM f
),
stats AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(dl_title) AS DOUBLE) / COUNT(*) AS avgdl_title,
    CAST(SUM(dl_text) AS DOUBLE) / COUNT(*) AS avgdl_text,
    SUM(CASE WHEN tf_title_0 > 0 THEN 1 ELSE 0 END) AS df_title_0,
    SUM(CASE WHEN tf_title_1 > 0 THEN 1 ELSE 0 END) AS df_title_1,
    SUM(CASE WHEN tf_text_0 > 0 THEN 1 ELSE 0 END) AS df_text_0,
    SUM(CASE WHEN tf_text_1 > 0 THEN 1 ELSE 0 END) AS df_text_1
  FROM base
),
scored AS (
  SELECT doc_id,
    CAST(2.0 AS DOUBLE)
      * ({_MM_TERM.format(f='title', i=0)} + {_MM_TERM.format(f='title', i=1)})
      AS s_title,
    CAST(1.0 AS DOUBLE)
      * ({_MM_TERM.format(f='text', i=0)} + {_MM_TERM.format(f='text', i=1)})
      AS s_text
  FROM base, stats
  WHERE tf_title_0 > 0 OR tf_title_1 > 0 OR tf_text_0 > 0 OR tf_text_1 > 0
)
SELECT doc_id,
  GREATEST(s_title, s_text)
  + CAST(0.3 AS DOUBLE) * ((s_title + s_text) - GREATEST(s_title, s_text))
  AS score
FROM scored ORDER BY score DESC, doc_id LIMIT 10
"""
ORACLES["docs_multi_match_atrest"] = ORACLES["docs_multi_match"]

# ES multi_match type=most_fields (round 12): same per-field frame,
# score = the PLAIN fixed-order sum of the boosted per-field BM25
# scores (ES compiles most_fields to a bool should over the
# per-field matches). Mirrors multi_match(mm_type=
# 'most_fields') — two physical paths, one value hash.
ORACLES["docs_multi_match_most_fields"] = rf"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS btoks FROM documents
),
f AS (SELECT doc_id, btoks, btoks[1:8] AS ttoks FROM t),
base AS (
  SELECT doc_id,
    len(ttoks) AS dl_title, len(btoks) AS dl_text,
    len(list_filter(ttoks, x -> x = 'spark')) AS tf_title_0,
    len(list_filter(ttoks, x -> x = 'merge')) AS tf_title_1,
    len(list_filter(btoks, x -> x = 'spark')) AS tf_text_0,
    len(list_filter(btoks, x -> x = 'merge')) AS tf_text_1
  FROM f
),
stats AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(dl_title) AS DOUBLE) / COUNT(*) AS avgdl_title,
    CAST(SUM(dl_text) AS DOUBLE) / COUNT(*) AS avgdl_text,
    SUM(CASE WHEN tf_title_0 > 0 THEN 1 ELSE 0 END) AS df_title_0,
    SUM(CASE WHEN tf_title_1 > 0 THEN 1 ELSE 0 END) AS df_title_1,
    SUM(CASE WHEN tf_text_0 > 0 THEN 1 ELSE 0 END) AS df_text_0,
    SUM(CASE WHEN tf_text_1 > 0 THEN 1 ELSE 0 END) AS df_text_1
  FROM base
),
scored AS (
  SELECT doc_id,
    CAST(2.0 AS DOUBLE)
      * ({_MM_TERM.format(f='title', i=0)} + {_MM_TERM.format(f='title', i=1)})
      AS s_title,
    CAST(1.0 AS DOUBLE)
      * ({_MM_TERM.format(f='text', i=0)} + {_MM_TERM.format(f='text', i=1)})
      AS s_text
  FROM base, stats
  WHERE tf_title_0 > 0 OR tf_title_1 > 0 OR tf_text_0 > 0 OR tf_text_1 > 0
)
SELECT doc_id, s_title + s_text AS score
FROM scored ORDER BY score DESC, doc_id LIMIT 10
"""
ORACLES["docs_multi_match_most_fields_atrest"] = ORACLES[
    "docs_multi_match_most_fields"
]

# ES multi_match type=cross_fields (round 13): TERM-centric — each
# term's df blends to the max across the field group (ES
# BlendedTermQuery), the term scores in every field with that shared
# df (own dl/avgdl norm, own boost), fields combine per term as the
# dis_max (tie_breaker 0 = pure max), terms sum in declaration
# order. Mirrors multi_match(mm_type='cross_fields') —
# two physical paths, one value hash.
_MM_XTERM = (
    "((CAST(n - {df} AS DOUBLE) + 0.5) / ({df} + 0.5))"
    " * ((tf_{f}_{i} * CAST(1.2 + 1.0 AS DOUBLE))"
    " / (tf_{f}_{i} + 1.2 * ((1.0 - 0.75) + (0.75 * dl_{f}) / avgdl_{f})))"
)

ORACLES["docs_multi_match_cross_fields"] = rf"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS btoks FROM documents
),
f AS (SELECT doc_id, btoks, btoks[1:8] AS ttoks FROM t),
base AS (
  SELECT doc_id,
    len(ttoks) AS dl_title, len(btoks) AS dl_text,
    len(list_filter(ttoks, x -> x = 'spark')) AS tf_title_0,
    len(list_filter(ttoks, x -> x = 'merge')) AS tf_title_1,
    len(list_filter(btoks, x -> x = 'spark')) AS tf_text_0,
    len(list_filter(btoks, x -> x = 'merge')) AS tf_text_1
  FROM f
),
stats AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(dl_title) AS DOUBLE) / COUNT(*) AS avgdl_title,
    CAST(SUM(dl_text) AS DOUBLE) / COUNT(*) AS avgdl_text,
    SUM(CASE WHEN tf_title_0 > 0 THEN 1 ELSE 0 END) AS df_title_0,
    SUM(CASE WHEN tf_title_1 > 0 THEN 1 ELSE 0 END) AS df_title_1,
    SUM(CASE WHEN tf_text_0 > 0 THEN 1 ELSE 0 END) AS df_text_0,
    SUM(CASE WHEN tf_text_1 > 0 THEN 1 ELSE 0 END) AS df_text_1
  FROM base
),
blended AS (
  SELECT doc_id,
    CAST(2.0 AS DOUBLE)
      * {_MM_XTERM.format(f='title', i=0, df='GREATEST(df_title_0, df_text_0)')}
      AS s_title_0,
    CAST(1.0 AS DOUBLE)
      * {_MM_XTERM.format(f='text', i=0, df='GREATEST(df_title_0, df_text_0)')}
      AS s_text_0,
    CAST(2.0 AS DOUBLE)
      * {_MM_XTERM.format(f='title', i=1, df='GREATEST(df_title_1, df_text_1)')}
      AS s_title_1,
    CAST(1.0 AS DOUBLE)
      * {_MM_XTERM.format(f='text', i=1, df='GREATEST(df_title_1, df_text_1)')}
      AS s_text_1
  FROM base, stats
  WHERE tf_title_0 > 0 OR tf_title_1 > 0 OR tf_text_0 > 0 OR tf_text_1 > 0
)
SELECT doc_id,
  GREATEST(s_title_0, s_text_0) + GREATEST(s_title_1, s_text_1) AS score
FROM blended ORDER BY score DESC, doc_id LIMIT 10
"""
ORACLES["docs_multi_match_cross_fields_atrest"] = ORACLES[
    "docs_multi_match_cross_fields"
]

# ES multi_match best_fields with operator=and (round 13): a field
# matches only when it contains ALL terms (its per-field match query
# compiles with operator=and); a non-matching field contributes
# exactly 0.0 to the dis_max; the doc matches when >= 1 field fully
# matches. Same frame as docs_multi_match with a gated score and a
# tightened gate — mirrors multi_match(operator='and').
ORACLES["docs_multi_match_operator_and"] = rf"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS btoks FROM documents
),
f AS (SELECT doc_id, btoks, btoks[1:8] AS ttoks FROM t),
base AS (
  SELECT doc_id,
    len(ttoks) AS dl_title, len(btoks) AS dl_text,
    len(list_filter(ttoks, x -> x = 'spark')) AS tf_title_0,
    len(list_filter(ttoks, x -> x = 'merge')) AS tf_title_1,
    len(list_filter(btoks, x -> x = 'spark')) AS tf_text_0,
    len(list_filter(btoks, x -> x = 'merge')) AS tf_text_1
  FROM f
),
stats AS (
  SELECT COUNT(*) AS n,
    CAST(SUM(dl_title) AS DOUBLE) / COUNT(*) AS avgdl_title,
    CAST(SUM(dl_text) AS DOUBLE) / COUNT(*) AS avgdl_text,
    SUM(CASE WHEN tf_title_0 > 0 THEN 1 ELSE 0 END) AS df_title_0,
    SUM(CASE WHEN tf_title_1 > 0 THEN 1 ELSE 0 END) AS df_title_1,
    SUM(CASE WHEN tf_text_0 > 0 THEN 1 ELSE 0 END) AS df_text_0,
    SUM(CASE WHEN tf_text_1 > 0 THEN 1 ELSE 0 END) AS df_text_1
  FROM base
),
scored AS (
  SELECT doc_id,
    CASE WHEN tf_title_0 > 0 AND tf_title_1 > 0 THEN
      CAST(2.0 AS DOUBLE)
        * ({_MM_TERM.format(f='title', i=0)} + {_MM_TERM.format(f='title', i=1)})
      ELSE CAST(0.0 AS DOUBLE) END AS s_title,
    CASE WHEN tf_text_0 > 0 AND tf_text_1 > 0 THEN
      CAST(1.0 AS DOUBLE)
        * ({_MM_TERM.format(f='text', i=0)} + {_MM_TERM.format(f='text', i=1)})
      ELSE CAST(0.0 AS DOUBLE) END AS s_text
  FROM base, stats
  WHERE (tf_title_0 > 0 AND tf_title_1 > 0)
     OR (tf_text_0 > 0 AND tf_text_1 > 0)
)
SELECT doc_id,
  GREATEST(s_title, s_text)
  + CAST(0.3 AS DOUBLE) * ((s_title + s_text) - GREATEST(s_title, s_text))
  AS score
FROM scored ORDER BY score DESC, doc_id LIMIT 10
"""
ORACLES["docs_multi_match_operator_and_atrest"] = ORACLES[
    "docs_multi_match_operator_and"
]

# ES bool with percentage minimum_should_match (round 13): '50%' of
# the four optional clauses rounds down to 2 — the resolved query is
# the plain should-only bool with gate n_should >= 2. Mirrors
# boolquery.parse_minimum_should_match + bool_search.
ORACLES["docs_bool_search_msm_pct"] = rf"""
WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
base AS (
  SELECT doc_id, len(toks) AS dl,
    len(list_filter(toks, x -> x = 'data')) AS tf0,
    len(list_filter(toks, x -> x = 'batch')) AS tf1,
    len(list_filter(toks, x -> x = 'window')) AS tf2,
    len(list_filter(toks, x -> x = 'merge')) AS tf3
  FROM t
),
stats AS (
  SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n,
    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
    SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
    SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
  FROM base
)
SELECT doc_id,
  {_BOOL_TERM.format(i=0)}
  + {_BOOL_TERM.format(i=1)}
  + {_BOOL_TERM.format(i=2)}
  + {_BOOL_TERM.format(i=3)} AS score,
  CAST((CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)
     + (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)
     + (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)
     + (CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_should
FROM base, stats
WHERE (CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)
    + (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)
    + (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)
    + (CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) >= 2
ORDER BY score DESC, doc_id LIMIT 10
"""

# ES bool query with a fuzzy clause (round 13): the stem 'mergz'
# expands against the term dictionary (levenshtein <= 1, ES's
# top-frequency rewrite order df desc/term asc, capped at 50,
# already-referenced terms excluded BEFORE the cap) and the
# expansions join the should list — must=data, should=[batch,
# <expansions>], msm=0. The expansion is DYNAMIC (it depends on the
# corpus vocabulary), so the scoring is relational: per-(doc, term)
# BM25 contributions fold LEFT in declaration order via
# list(s ORDER BY ord) + list_reduce — bit-identical to the engine's
# fixed-order sum (tf=0 terms contribute exactly 0.0 at their
# position, an exact FP no-op). Mirrors
# operators/boolquery.py bool_fuzzy_search — two physical paths
# (scan + vocab-sidecar walk), one value hash.
ORACLES["docs_bool_fuzzy_search"] = r"""
WITH base AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks,
         len(regexp_extract_all(text, '\S+')) AS dl
  FROM documents
),
n_avg AS (
  SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM base
),
types AS (
  SELECT DISTINCT doc_id, unnest(toks) AS term FROM base
),
vocab AS (SELECT term, COUNT(*) AS df FROM types GROUP BY term),
exp AS (
  SELECT term, df FROM vocab
  WHERE levenshtein(term, 'mergz') <= 1
    AND term NOT IN ('data', 'batch')
  ORDER BY df DESC, term ASC LIMIT 50
),
qterms AS (
  SELECT 'data' AS term, 0 AS ord, TRUE AS is_must
  UNION ALL
  SELECT 'batch', 1, FALSE
  UNION ALL
  SELECT term,
         1 + ROW_NUMBER() OVER (ORDER BY df DESC, term ASC),
         FALSE
  FROM exp
),
tf AS (
  SELECT b.doc_id, q.term, q.ord, q.is_must, b.dl,
         len(list_filter(b.toks, x -> x = q.term)) AS tf
  FROM base b CROSS JOIN qterms q
),
dfx AS (
  SELECT term, SUM(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS dfq
  FROM tf GROUP BY term
),
scored AS (
  SELECT t.doc_id, t.ord, t.is_must, t.tf,
    ((CAST(n - dfq AS DOUBLE) + 0.5) / (dfq + 0.5))
      * ((t.tf * CAST(1.2 + 1.0 AS DOUBLE))
         / (t.tf + 1.2 * ((1.0 - 0.75) + (0.75 * t.dl) / avgdl))) AS s
  FROM tf t, dfx, n_avg WHERE dfx.term = t.term
),
perdoc AS (
  SELECT doc_id,
    list_reduce(list(s ORDER BY ord), (a, b) -> a + b) AS score,
    CAST(SUM(CASE WHEN NOT is_must AND tf > 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS n_should,
    BOOL_AND(CASE WHEN is_must THEN tf > 0 ELSE TRUE END) AS must_ok
  FROM scored GROUP BY doc_id
)
SELECT doc_id, score, n_should
FROM perdoc WHERE must_ok AND n_should >= 0
ORDER BY score DESC, doc_id LIMIT 10
"""
ORACLES["docs_bool_fuzzy_search_atrest"] = ORACLES["docs_bool_fuzzy_search"]

# ES simple_query_string (round 12): '+data batch -dup window'
# compiles to must=[data], should=[batch, window], must_not=[dup],
# msm=0 — the bool SQL with the compiled clause lists (mirrors
# operators/querystring.py; the parser adds no dataflow).
ORACLES["docs_simple_query_string"] = rf"""
WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
base AS (
  SELECT doc_id, len(toks) AS dl,
    len(list_filter(toks, x -> x = 'data')) AS tf0,
    len(list_filter(toks, x -> x = 'batch')) AS tf1,
    len(list_filter(toks, x -> x = 'window')) AS tf2,
    len(list_filter(toks, x -> x = 'dup')) AS tf3
  FROM t
),
stats AS (
  SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n,
    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
    SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
  FROM base
)
SELECT doc_id,
  {_BOOL_TERM.format(i=0)}
  + {_BOOL_TERM.format(i=1)}
  + {_BOOL_TERM.format(i=2)} AS score,
  CAST((CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)
     + (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_should
FROM base, stats
WHERE tf0 > 0 AND tf3 = 0
ORDER BY score DESC, doc_id LIMIT 10
"""
ORACLES["docs_simple_query_string_atrest"] = ORACLES["docs_simple_query_string"]

# ES terms_set query (round 12): four searched terms, required
# count from the per-doc field 1 + n_chars % 3, clamped >= 1; score
# = fixed-order BM25 sum of matching terms. Mirrors
# operators/boolquery.py terms_set_search over either term source —
# two physical paths, one value hash.
ORACLES["docs_terms_set"] = rf"""
WITH t AS (
  SELECT doc_id, n_chars, regexp_extract_all(text, '\S+') AS toks
  FROM documents
),
base AS (
  SELECT doc_id, CAST(1 + (n_chars % 3) AS BIGINT) AS req_matches,
    len(toks) AS dl,
    len(list_filter(toks, x -> x = 'data')) AS tf0,
    len(list_filter(toks, x -> x = 'spark')) AS tf1,
    len(list_filter(toks, x -> x = 'merge')) AS tf2,
    len(list_filter(toks, x -> x = 'batch')) AS tf3
  FROM t
),
stats AS (
  SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n,
    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
    SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
    SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
  FROM base
)
SELECT doc_id,
  {_BOOL_TERM.format(i=0)}
  + {_BOOL_TERM.format(i=1)}
  + {_BOOL_TERM.format(i=2)}
  + {_BOOL_TERM.format(i=3)} AS score,
  CAST((CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)
     + (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)
     + (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)
     + (CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
FROM base, stats
WHERE (CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)
    + (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)
    + (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)
    + (CASE WHEN tf3 > 0 THEN 1 ELSE 0 END)
    >= GREATEST(req_matches, 1)
ORDER BY score DESC, doc_id LIMIT 10
"""
ORACLES["docs_terms_set_atrest"] = ORACLES["docs_terms_set"]

# ES span_first (round 12): the in-order 'slow hash' chain (slop=1,
# window = 2) must END within the first 20 positions — the span_near
# greedy-chain SQL with the boundary conjunct. Mirrors
# functions/text.py span_first_search.
ORACLES["docs_span_first"] = r"""
WITH stok AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents
),
sidx AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM stok
),
spos AS (
  SELECT doc_id, toks[i] AS term, list(i ORDER BY i) AS ps
  FROM sidx GROUP BY doc_id, toks[i]
),
sp0 AS (SELECT doc_id, ps AS ps0 FROM spos WHERE term = 'slow'),
sp1 AS (SELECT doc_id, ps AS ps1 FROM spos WHERE term = 'hash'),
cnt AS (
  SELECT sp0.doc_id,
    CAST(len(list_filter(ps0, p ->
      list_min(list_filter(ps1, q1 -> q1 > p)) - p <= 2
      AND list_min(list_filter(ps1, q1 -> q1 > p)) <= 20
    )) AS BIGINT) AS n_spans
  FROM sp0 JOIN sp1 USING (doc_id)
)
SELECT doc_id, n_spans FROM cnt WHERE n_spans > 0
"""
ORACLES["docs_span_first_atrest"] = ORACLES["docs_span_first"]

# ES span_not (round 12): include 'slow hash' (slop=1, window 2),
# exclude any span overlapping a 'scan' position widened by
# pre=1/post=1; LEFT JOIN + empty-list coalesce models the
# no-exclude-postings doc; NULL chain ends drop via 3VL in both
# engines. Mirrors functions/text.py span_not_search.
ORACLES["docs_span_not"] = r"""
WITH stok AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents
),
sidx AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM stok
),
spos AS (
  SELECT doc_id, toks[i] AS term, list(i ORDER BY i) AS ps
  FROM sidx GROUP BY doc_id, toks[i]
),
sp0 AS (SELECT doc_id, ps AS ps0 FROM spos WHERE term = 'slow'),
sp1 AS (SELECT doc_id, ps AS ps1 FROM spos WHERE term = 'hash'),
sq0 AS (SELECT doc_id, ps AS qs0 FROM spos WHERE term = 'scan'),
j AS (
  SELECT sp0.doc_id, ps0, ps1,
    COALESCE(qs0, CAST([] AS BIGINT[])) AS qs0
  FROM sp0 JOIN sp1 USING (doc_id) LEFT JOIN sq0 USING (doc_id)
),
cnt AS (
  SELECT doc_id, CAST(len(list_filter(ps0, p ->
    list_min(list_filter(ps1, q1 -> q1 > p)) - p <= 2
    AND NOT len(list_filter(qs0, x ->
      x <= list_min(list_filter(ps1, q1 -> q1 > p)) + 1
      AND x >= p - 1)) > 0
  )) AS BIGINT) AS n_spans
  FROM j
)
SELECT doc_id, n_spans FROM cnt WHERE n_spans > 0
"""
ORACLES["docs_span_not_atrest"] = ORACLES["docs_span_not"]

# ES match_phrase_prefix over the parsed irclog (round 12): the
# fixed token '{{"k":' followed by a token starting with '5' — the
# k=50..59 payload messages. Prefix expansion in TERM ORDER capped
# at max_expansions=50; counts are start positions (overlaps
# included). Mirrors operators/multimatch.py match_phrase_prefix over
# either term source — two physical paths, one value hash.
ORACLES["log_match_phrase_prefix"] = (
    "WITH " + IRCLOG_CTE + r""",
t AS (
  -- ONE doc per id: the ES sink's keyed upsert stores each
  -- time-free message id once (dup rows are identical in this
  -- projection by construction of the id)
  SELECT id, regexp_extract_all(remark, '\S+') AS toks
  FROM (SELECT DISTINCT id, remark FROM irclog)
),
exps AS (
  SELECT term FROM (SELECT DISTINCT unnest(toks) AS term FROM t)
  WHERE starts_with(term, '5') ORDER BY term LIMIT 50
),
lasts AS (
  SELECT id, unnest(list_transform(
    list_filter(
      CASE WHEN len(toks) >= 2
           THEN generate_series(1, len(toks) - 1) ELSE [] END,
      i -> toks[i] = '{"k":' AND starts_with(toks[i+1], '5')
    ), i -> toks[i + 1])) AS last_tok
  FROM t
),
cnt AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS phrase_count
  FROM lasts JOIN exps ON lasts.last_tok = exps.term
  GROUP BY id
)
SELECT id, phrase_count FROM cnt
ORDER BY phrase_count DESC, id LIMIT 10
"""
)
ORACLES["log_match_phrase_prefix_atrest"] = ORACLES["log_match_phrase_prefix"]

# map-literal encode vs explode/join/reassemble: two physical paths,
# one value hash (the same convention)
ORACLES["docs_tokenize_fast"] = ORACLES["docs_tokenize"]


def _importance_resample_sql() -> str:
    """ANSI twin of queries.docs_importance_resample /
    operators/importance.py: hashed unigram+bigram features under
    md5_hash31, the SAME plan-constant quantized weight table inlined
    as a list literal (a model parameter, not an answer — the logit
    is re-derived per feature in SQL), integer milli-unit sum,
    deterministic top-25."""
    from irclogbot_spark.operators.importance import importance_weights

    w = importance_weights()
    arr = "[" + ", ".join(str(x) for x in w) + "]"
    dim = len(w)
    return rf"""
WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
pos AS (
  SELECT doc_id, i,
    CAST('0x' || substr(md5(toks[i]), 1, 15) AS BIGINT) % 2147483647 AS h
  FROM t, UNNEST(range(1, len(toks) + 1)) AS r(i)
),
idx AS (
  SELECT doc_id, CAST(h % {dim} AS INT) AS ix FROM pos
  UNION ALL
  SELECT a.doc_id, CAST((a.h * 31 + b.h) % {dim} AS INT) AS ix
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
),
scored AS (SELECT doc_id, ({arr})[ix + 1] AS wt FROM idx),
agg AS (SELECT doc_id, CAST(SUM(wt) AS BIGINT) AS imp_milli
        FROM scored GROUP BY doc_id)
SELECT d.doc_id, CAST(COALESCE(a.imp_milli, 0) AS BIGINT) AS imp_milli
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
ORDER BY imp_milli DESC, d.doc_id LIMIT 25
"""


def _paragraph_dedup_sql(width: int = 20, min_docs: int = 2) -> str:
    """ANSI twin of queries.docs_paragraph_dedup: same \\S+ tokens,
    same 20-token window grid as docs_chunking (start 1, inclusive
    list slicing, short final window), md5 paragraph hashes,
    distinct-doc counts, 0-based dup positions, in-order rebuild
    joined with newline. Empty docs emit n_paras=0 and empty
    text_clean (range(1, 1) is empty; LEFT JOIN keeps the row)."""
    return rf"""
WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
s AS (SELECT doc_id, toks, len(toks) AS n FROM t),
p AS (SELECT doc_id,
        list_transform(range(1, n + 1, {width}),
                       st -> array_to_string(toks[st : st + {width} - 1], ' ')) AS paras
      FROM s),
e AS (SELECT doc_id,
        unnest(range(0, len(paras))) AS pos,
        unnest(list_transform(paras, x -> md5(x))) AS h
      FROM p),
dup AS (SELECT h FROM e GROUP BY h HAVING COUNT(DISTINCT doc_id) >= {min_docs}),
dp AS (SELECT doc_id, list_sort(list(pos)) AS dup_pos
       FROM e JOIN dup USING (h) GROUP BY doc_id)
SELECT p.doc_id,
  CAST(len(p.paras) AS BIGINT) AS n_paras,
  CAST(coalesce(len(dp.dup_pos), 0) AS BIGINT) AS n_removed,
  coalesce(array_to_string(
    list_transform(
      list_filter(range(0, len(p.paras)),
                  i -> NOT list_contains(coalesce(dp.dup_pos, []), i)),
      i -> p.paras[i + 1]),
    chr(10)), '') AS text_clean
FROM p LEFT JOIN dp USING (doc_id)
"""


ORACLES["docs_paragraph_dedup"] = _paragraph_dedup_sql()


def _decontam_bloom_sql(m_bits: int = 1 << 18, k: int = 3) -> str:
    """ANSI twin of queries.docs_decontam_bloom: the FULL Bloom
    pipeline re-derived — same split, same 8-gram distinct shingles,
    h1/h2 from disjoint 15-hex md5 windows, positions
    (h1%m + j*(h2%m)) % m (reduced before the multiply-add, so no
    intermediate leaves BIGINT range in either engine), 32-bit words
    inside BIGINT (every 1<<bit positive — no sign divergence),
    bit_or filter build over the test split, all-k-bits probe over
    the train split. Nothing inlined: the oracle rebuilds the filter
    itself."""
    shift = "CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)"
    return rf"""
WITH labeled AS (
  SELECT doc_id, text,
    {_split_case_sql({'train': 0.9, 'test': 0.1}, 'decon', 'CAST(doc_id AS VARCHAR)')} AS split
  FROM documents
),
t AS (SELECT doc_id, split, regexp_extract_all(text, '\S+') AS toks FROM labeled),
grams AS (
  SELECT DISTINCT doc_id, split, array_to_string(toks[i:i+7], ' ') AS shingle
  FROM t, UNNEST(range(1, len(toks) - 6)) AS r(i)
  WHERE len(toks) >= 8
),
hp AS (SELECT doc_id, split, shingle,
         CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % {m_bits} AS a,
         CAST('0x' || substr(md5(shingle), 17, 15) AS BIGINT) % {m_bits} AS b
       FROM grams),
pos AS (SELECT doc_id, split, shingle, (a + j * b) % {m_bits} AS pos
        FROM hp, UNNEST(range(0, {k})) AS r(j)),
words AS (
  SELECT pos // 32 AS widx, bit_or({shift}) AS word
  FROM (SELECT DISTINCT pos FROM pos WHERE split = 'test')
  GROUP BY widx
),
probe AS (
  SELECT p.doc_id, p.shingle,
    BOOL_AND(w.word IS NOT NULL AND (w.word & ({shift})) <> 0) AS maybe
  FROM (SELECT doc_id, shingle, pos FROM pos WHERE split = 'train') p
  LEFT JOIN words w ON w.widx = p.pos // 32
  GROUP BY p.doc_id, p.shingle
),
agg AS (SELECT doc_id, COUNT(*) AS n_ngrams,
          SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS n_maybe
        FROM probe GROUP BY doc_id)
SELECT d.doc_id,
  CAST(COALESCE(a.n_ngrams, 0) AS BIGINT) AS n_ngrams,
  CAST(COALESCE(a.n_maybe, 0) AS BIGINT) AS n_maybe,
  COALESCE(a.n_maybe, 0) > 0 AS flagged
FROM (SELECT doc_id FROM labeled WHERE split = 'train') d
LEFT JOIN agg a ON a.doc_id = d.doc_id
"""


ORACLES["docs_decontam_bloom"] = _decontam_bloom_sql()


# ANSI twin of queries.media_frame_plan: same stub duration probe
# (payload bytes % 120 + 1 — octet_length on the raw text equals the
# UTF-8 binary cast's byte count via encode()), same inclusive 5s offset grid
# (Spark sequence(0, d, 5) == range(0, d + 1, 5)).
ORACLES["media_frame_plan"] = """
SELECT doc_id AS asset_id,
  unnest(range(0, (octet_length(encode(text)) % 120 + 1) + 1, 5)) AS offset_s
FROM documents WHERE doc_id % 3 = 0
"""


# ANSI twin of queries.emb_semantic_decontam: same planted eval twins
# (x * 1.001 + 0.001 over vec_id < 5), same cosine association
# (dot / (norm_a * norm_b)); MAX over eval is order-free so the
# packed-array fold order on the Spark side cannot diverge.
ORACLES["emb_semantic_decontam"] = """
WITH ev AS (
  SELECT vec_id + 100000 AS eval_id,
    list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.001 + 0.001) AS qv
  FROM embeddings WHERE vec_id < 5
),
scored AS (
  SELECT e.vec_id,
    MAX(list_dot_product(CAST(e.embedding AS DOUBLE[]), ev.qv)
        / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                 CAST(e.embedding AS DOUBLE[])))
           * sqrt(list_dot_product(ev.qv, ev.qv)))) AS max_sim
  FROM embeddings e CROSS JOIN ev
  GROUP BY e.vec_id
)
SELECT vec_id, max_sim, max_sim >= 0.99 AS flagged FROM scored
"""


# ANSI twin of queries.docs_normalized_dedup: same planted
# byte-variants, same normalization chain (lower -> strip
# non-alnum -> collapse whitespace -> trim), keep-first on the
# normalized md5.
ORACLES["docs_normalized_dedup"] = r"""
WITH planted AS (
  SELECT doc_id + 100000 AS doc_id,
    '  ' || replace(upper(text), ' ', '  ') || ' !!' AS text, lang, source
  FROM documents WHERE doc_id < 5
),
corpus AS (
  SELECT doc_id, text, lang, source FROM documents
  UNION ALL SELECT * FROM planted
),
norm AS (
  SELECT doc_id, lang, source,
    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                            '\s+', ' ', 'g'))) AS fp
  FROM corpus
)
SELECT doc_id, lang, source FROM norm
WHERE doc_id IN (SELECT MIN(doc_id) FROM norm GROUP BY fp)
"""


# ANSI twin of queries.docs_data_card: same \S+ token count, same
# md5 fingerprint, floor'd integer milli rate (DuckDB CAST rounds,
# so the floor is explicit on both engines).
ORACLES["docs_data_card"] = r"""
WITH per_doc AS (
  SELECT doc_id, lang, source, md5(text) AS fp,
    len(regexp_extract_all(text, '\S+')) AS tok
  FROM documents
),
top_source AS (
  SELECT source AS top_source FROM per_doc
  GROUP BY source ORDER BY COUNT(*) DESC, source LIMIT 1
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_exact_dups,
  CAST(SUM(tok) AS BIGINT) AS total_tokens,
  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
  CAST(floor((SUM(CASE WHEN tok < 50 THEN 1 ELSE 0 END) * 1000.0)
             / COUNT(*)) AS BIGINT) AS short_doc_milli,
  (SELECT top_source FROM top_source) AS top_source
FROM per_doc
"""


# ANSI twin of queries.docs_pps_sample: the SINGLE-WINDOW global
# form of the distributed prefix sum — same portable draw, same
# (draw, id) order, integer cumulative weights, stride DIV
# selection. Equality of the two forms IS the check on the
# bucket-offset machinery.
ORACLES["docs_pps_sample"] = f"""
WITH d AS (
  SELECT doc_id, lang, source, n_chars,
    {_portable_draw_sql('pps', 'CAST(doc_id AS VARCHAR)')} AS draw,
    CAST(n_chars AS BIGINT) AS w
  FROM documents
),
c AS (
  SELECT doc_id, lang, source, n_chars, w,
    SUM(w) OVER (ORDER BY draw, doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum,
    SUM(w) OVER () AS total
  FROM d
)
SELECT doc_id, lang, source, n_chars FROM c
WHERE (cum - w) // GREATEST(1, total // 50) < cum // GREATEST(1, total // 50)
"""


# ANSI twin of queries.log_trending_terms: same \S+ remark tokens,
# day truncation, (n DESC, term) rank.
ORACLES["log_trending_terms"] = rf"""
WITH {{IRCLOG_CTE}},
t AS (SELECT CAST(date_trunc('day', posted) AS DATE) AS day,
        unnest(regexp_extract_all(remark, '\S+')) AS term
      FROM irclog),
c AS (SELECT day, term, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY day, term)
SELECT day, term, n, rnk FROM (
  SELECT day, term, n,
    CAST(ROW_NUMBER() OVER (PARTITION BY day ORDER BY n DESC, term) AS BIGINT) AS rnk
  FROM c
) WHERE rnk <= 5
""".format(IRCLOG_CTE=IRCLOG_CTE)


# ANSI twin of queries.events_anomaly: same decimal(12,2)->centi
# conversion, same square-compare 3-sigma form. Moments ride HUGEINT
# (int128) — the exact twin of the engine's decimal(38,0) lift — so
# n*Q and S^2 never wrap; no float stats anywhere.
# Plain-join twin of queries.events_salted_enrich: the salted join
# is semantically identical to this unsalted form — the oracle
# value-hashes the salt's invisibility.
ORACLES["events_salted_enrich"] = """
WITH dim AS (
  SELECT user_id AS d_user, COUNT(*) AS n_user_events
  FROM events GROUP BY user_id
)
SELECT event_type, COUNT(*) AS n_events,
  CAST(SUM(n_user_events) AS BIGINT) AS sum_user_activity
FROM events JOIN dim ON user_id = d_user
GROUP BY event_type
ORDER BY event_type
"""

# Last-touch attribution twin: IGNORE NULLS LAST_VALUE over the same
# (ts, event_id)-ordered per-user window, 1-PRECEDING upper bound so
# a conversion cannot credit itself.
ORACLES["events_attribution"] = """
WITH carried AS (
  SELECT user_id, ts, event_type,
    LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
               THEN event_type END IGNORE NULLS) OVER w AS lt_type,
    LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
               THEN ts END IGNORE NULLS) OVER w AS lt_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT COALESCE(CASE WHEN lt_ts >= ts - INTERVAL 7 DAY
                THEN lt_type END, 'none') AS touch,
  COUNT(*) AS n_conversions,
  COUNT(DISTINCT user_id) AS n_users
FROM carried
WHERE event_type = 'purchase'
GROUP BY 1
ORDER BY 1
"""

ORACLES["events_anomaly"] = """
WITH c AS (
  SELECT event_type,
    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS HUGEINT) AS x
  FROM events
),
s AS (SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
        SUM(x) AS sx, SUM(x*x) AS q
      FROM c GROUP BY event_type)
SELECT c.event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CASE WHEN (s.n*c.x - s.sx)*(s.n*c.x - s.sx)
                     > 9*(s.n*s.q - s.sx*s.sx)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM c JOIN s USING (event_type)
GROUP BY c.event_type
"""


ORACLES["events_top_paths"] = """
WITH s AS (
  SELECT event_type,
    lead(event_type, 1) OVER w AS t2,
    lead(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type || ' > ' || t2 || ' > ' || t3 AS path,
  CAST(COUNT(*) AS BIGINT) AS n_paths
FROM s
WHERE event_type IS NOT NULL AND t2 IS NOT NULL AND t3 IS NOT NULL
GROUP BY path
ORDER BY n_paths DESC, path
LIMIT 20
"""


def _bpe_merges_sql(n_merges: int = 8) -> str:
    """ANSI twin of queries.docs_bpe_merges: the FULL iterative BPE
    loop unrolled — per step, a pair count over the current word
    table (overlapping occurrences, Sennrich counting), the
    (cnt DESC, pair ASC) argmax as a 1-row CTE, and a left-to-right
    non-overlapping replace() carried into the next step's table.
    DuckDB's replace == Java String.replace on this contract. The
    U+001F separator sorts below every printable byte, so concat
    order equals tuple order in the tie-break. Uses the same WRAPPED
    symbol representation as operators/bpe.py (one edge separator,
    two between symbols) so the literal replace can only match at
    symbol boundaries — no lookaround needed (RE2 has none)."""
    sep = "chr(31)"
    ctes = [
        rf"""w AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(regexp_extract_all(text, '\S+')) AS word FROM documents)
  WHERE NOT contains(word, {sep})
  GROUP BY word
),
v0 AS MATERIALIZED (
  SELECT {sep} || array_to_string(list_transform(range(1, length(word) + 1),
           i -> substr(word, i, 1)), {sep} || {sep})
    || {sep} || {sep} || '</w>' || {sep} AS syms, freq
  FROM w
)"""
    ]
    for i in range(1, n_merges + 1):
        ctes.append(
            f"""p{i} AS MATERIALIZED (
  SELECT s[j] || {sep} || s[j+1] AS pair, SUM(freq) AS cnt
  FROM (SELECT string_split(trim(syms, {sep}), {sep} || {sep}) AS s, freq
        FROM v{i-1}) t,
       UNNEST(range(1, len(s))) AS u(j)
  GROUP BY pair
),
b{i} AS MATERIALIZED (SELECT pair, cnt FROM p{i} ORDER BY cnt DESC, pair LIMIT 1),
v{i} AS MATERIALIZED (
  SELECT replace(syms,
                 (SELECT {sep} || replace(pair, {sep}, {sep} || {sep}) || {sep}
                  FROM b{i}),
                 (SELECT {sep} || replace(pair, {sep}, '') || {sep}
                  FROM b{i})) AS syms, freq
  FROM v{i-1}
)"""
        )
        unions = "\nUNION ALL\n".join(
            f"""SELECT CAST({i} AS INT) AS step,
  string_split(pair, {sep})[1] AS lhs, string_split(pair, {sep})[2] AS rhs,
  replace(pair, {sep}, '') AS merged, CAST(cnt AS BIGINT) AS pair_freq
FROM b{i}"""
            for i in range(1, n_merges + 1)
        )
    return "WITH " + ",\n".join(ctes) + "\n" + unions


ORACLES["docs_bpe_merges"] = _bpe_merges_sql()


def _bpe_tokenize_sql(n_merges: int = 8) -> str:
    """ANSI twin of queries.docs_bpe_tokenize: the learned-merge CTE
    chain from _bpe_merges_sql feeds an n_merges-deep nested replace
    over every word's initial symbols (replay in learn order — the
    classic greedy apply), re-flattened per doc in word order. The
    apply side has NO sep-filter (training drops U+001F words;
    encoding passes everything through, matching apply_bpe)."""
    sep = "chr(31)"
    prefix = _bpe_merges_sql(n_merges)
    prefix = prefix[: prefix.index("\nSELECT CAST(1 AS INT)")]
    # strip the final UNION SELECT block; keep "WITH ...v{n} (...)"
    rep = "s"
    for i in range(1, n_merges + 1):
        rep = (
            f"replace({rep}, "
            f"(SELECT {sep} || replace(pair, {sep}, {sep} || {sep}) || {sep} "
            f"FROM b{i}), "
            f"(SELECT {sep} || replace(pair, {sep}, '') || {sep} FROM b{i}))"
        )
    sep2 = f"{sep} || {sep}"
    return (
        prefix
        + f""",
dw AS MATERIALIZED (
  SELECT doc_id, j AS word_idx, toks[j] AS word
  FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks FROM documents) t,
       UNNEST(range(1, len(toks) + 1)) AS u(j)
),
sym0 AS (
  SELECT doc_id, word_idx,
    {sep} || array_to_string(list_transform(range(1, length(word) + 1),
      i -> substr(word, i, 1)), {sep2})
    || {sep2} || '</w>' || {sep} AS s
  FROM dw
),
encw AS MATERIALIZED (SELECT doc_id, word_idx, {rep} AS s FROM sym0),
docenc AS (
  SELECT doc_id, string_agg(trim(s, {sep}), {sep2} ORDER BY word_idx) AS all_s
  FROM encw GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(COALESCE(len(string_split(e.all_s, {sep2})), 0) AS BIGINT)
    AS n_bpe_tokens,
  COALESCE(array_to_string(string_split(e.all_s, {sep2})[1:10], ' '), '')
    AS preview
FROM (SELECT doc_id FROM documents) d LEFT JOIN docenc e USING (doc_id)
"""
    )


ORACLES["docs_bpe_tokenize"] = _bpe_tokenize_sql()


def _kmeans_clusters_sql(n_cells: int = 16, n_iter: int = 5) -> str:
    """ANSI twin of queries.emb_kmeans_clusters: re-train the
    bit-identical driver replica (integer-quantized accumulation —
    pure function of the corpus), inline the learned centroids, and
    re-derive the argmax-dot assignment exactly as _ivf_topk_sql's
    ca/cb CTEs do; the cluster stats are integer-only."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    key = ("kmeans_clusters", sf_dir, n_cells, n_iter)
    if key in _IVF_SQL_CACHE:
        return _IVF_SQL_CACHE[key]

    import duckdb

    from irclogbot_spark.operators.similarity import train_ivf_centroids_local

    path = os.path.join(sf_dir, "embeddings.parquet")
    rows = duckdb.sql(
        f"SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM '{path}' ORDER BY vec_id"
    ).fetchall()
    cents = train_ivf_centroids_local(
        [(r[0], list(r[1])) for r in rows], n_cells, n_iter
    )
    lits = ["[" + ", ".join(f"{x:.17e}" for x in c) + "]" for c in cents]
    dots_list = "[" + ", ".join(f"list_dot_product(v, {l})" for l in lits) + "]"
    sql = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ca AS (SELECT vec_id, {dots_list} AS dots FROM e),
cb AS (SELECT vec_id,
         CAST(list_position(dots, list_max(dots)) - 1 AS INT) AS cell FROM ca)
SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs, MIN(vec_id) AS rep_vec_id
FROM cb GROUP BY cell
"""
    _IVF_SQL_CACHE[key] = sql
    return sql


def _pagerank_trade_sql(
    n_iter: int = 4, damping_milli: int = 850, r0: int = 1_000_000
) -> str:
    """ANSI twin of queries.graph_pagerank_trade: the full 4-round
    power iteration unrolled (MATERIALIZED CTEs — the BPE lesson),
    with the identical integer arithmetic: BIGINT micro-unit ranks,
    floor integer division per edge contribution (// == Spark's DIV
    on positive operands), associative BIGINT sums."""
    base = (1000 - damping_milli) * r0 // 1000
    ctes = [
        f"""e0 AS (
  SELECT o_custkey AS c, l_suppkey AS s, CAST(COUNT(*) AS BIGINT) AS w
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY c, s
),
edges AS MATERIALIZED (
  SELECT 'c' || c AS src, 's' || s AS dst, w FROM e0
  UNION ALL
  SELECT 's' || s AS src, 'c' || c AS dst, w FROM e0
),
nodes AS MATERIALIZED (
  SELECT DISTINCT src AS node FROM edges
  UNION SELECT DISTINCT dst AS node FROM edges
),
deg AS MATERIALIZED (SELECT src, SUM(w) AS wdeg FROM edges GROUP BY src),
r0_t AS MATERIALIZED (SELECT node, CAST({r0} AS BIGINT) AS r FROM nodes)"""
    ]
    prev = "r0_t"
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""c{i} AS MATERIALIZED (
  SELECT e.dst AS node,
    SUM(({damping_milli} * r.r * e.w) // (1000 * d.wdeg)) AS contrib
  FROM edges e JOIN deg d ON d.src = e.src JOIN {prev} r ON r.node = e.src
  GROUP BY e.dst
),
r{i}_t AS MATERIALIZED (
  SELECT n.node, CAST({base} + COALESCE(c.contrib, 0) AS BIGINT) AS r
  FROM nodes n LEFT JOIN c{i} c ON c.node = n.node
)"""
        )
        prev = f"r{i}_t"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, r AS rank_units FROM {prev} ORDER BY r DESC, node LIMIT 25"
    )


ORACLES["graph_pagerank_trade"] = _pagerank_trade_sql()


def _lsh_recall_sql() -> str:
    """ANSI twin of queries.docs_lsh_recall: both pair sets are the
    existing oracle pipelines nested as subqueries (exact 5-gram
    Jaccard and the full MinHash-LSH candidate path under md5
    twins); the metric is a join + integer milli recall with the
    same explicit floor."""
    ex = ORACLES["docs_neardup_jaccard"]
    got = ORACLES["docs_minhash_lsh"]
    return f"""
WITH ex AS (SELECT d1, d2 FROM ({ex})),
got AS (SELECT d1, d2 FROM ({got})),
j AS (
  SELECT e.d1, e.d2, (g.d1 IS NOT NULL) AS hit
  FROM ex e LEFT JOIN got g ON g.d1 = e.d1 AND g.d2 = e.d2
),
a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
        CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_common
      FROM j),
b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_lsh FROM got)
SELECT n_exact, n_lsh, n_common,
  CAST(CASE WHEN n_exact = 0 THEN 1000
       ELSE floor(1000.0 * n_common / n_exact) END AS BIGINT)
    AS recall_milli
FROM a CROSS JOIN b
"""


ORACLES["docs_lsh_recall"] = _lsh_recall_sql()


# ANSI twin of queries.tpch_q16_supplier_cnt: the NOT IN form of the
# broadcast anti join, same distinct pair reduction and tiebreak.
ORACLES["tpch_q16_supplier_cnt"] = """
SELECT p_brand, p_type, p_size,
  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON ps.l_partkey = p_partkey
WHERE p_size <= 20
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 20
"""


# ANSI twin of queries.media_resize_stats: src geometry re-derived
# from the text length the BMP fixture encoded (the engine must parse
# each header to produce it); target geometry is the resize contract.
ORACLES["media_resize_stats"] = """
SELECT doc_id AS asset_id,
  CAST(4 + octet_length(encode(text)) % 13 AS INT) AS src_width,
  CAST(3 + octet_length(encode(text)) % 7 AS INT) AS src_height,
  CAST(16 AS INT) AS width,
  CAST(16 AS INT) AS height
FROM documents
"""


# ANSI twin of queries.media_audio_stats: the engine parses REAL WAV
# bytes; the oracle re-derives the header numbers the fixture encoded
# from the text's UTF-8 length (rate = 8000 + 1000*(n%9), frames =
# 50 + n%500, stereo; duration via integer floor division — both
# engines' operands are positive, so floor == //).
ORACLES["media_audio_stats"] = """
WITH n AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
SELECT doc_id AS asset_id,
  CAST(8000 + 1000 * (n % 9) AS INT) AS sample_rate,
  CAST(50 + n % 500 AS BIGINT) AS n_frames,
  CAST(2 AS INT) AS n_channels,
  CAST((50 + n % 500) * 1000 // (8000 + 1000 * (n % 9)) AS BIGINT)
    AS duration_ms
FROM n
"""


# ANSI twin of queries.docs_corpus_shuffle: the same md5-fold
# shuffle key (dedup.md5_hash31's documented DuckDB twin), mod-shard
# assignment, and per-shard rank with the id tiebreak. Both engines'
# % is positive-on-positive here, so pmod == %.
ORACLES["docs_corpus_shuffle"] = """
WITH h AS (
  SELECT doc_id,
    CAST('0x' || substr(md5(concat_ws(chr(31), 'epoch0',
      CAST(doc_id AS VARCHAR))), 1, 15) AS BIGINT) % 2147483647
      AS shuffle_key
  FROM documents
)
SELECT doc_id, shuffle_key,
  CAST(shuffle_key % 16 AS BIGINT) AS shard,
  CAST(ROW_NUMBER() OVER (PARTITION BY shuffle_key % 16
       ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos
FROM h
"""


# ANSI twin of queries.docs_length_winsorize: quantile_cont is
# DuckDB's exact linear-interpolation percentile — same (n-1)*q
# formula as Spark's F.percentile, bit-identical doubles; all summed
# quantities floor-quantized to milli before aggregation, as in the
# engine.
ORACLES["docs_length_winsorize"] = """
WITH d AS MATERIALIZED (
  SELECT source, CAST(length(text) AS DOUBLE) AS len FROM documents
),
stats AS (
  SELECT source, quantile_cont(len, 0.05) AS p05, quantile_cont(len, 0.95) AS p95
  FROM d GROUP BY source
)
SELECT d.source, COUNT(*) AS n_docs,
  CAST(floor(MAX(p05) * 1000) AS BIGINT) AS p05_milli,
  CAST(floor(MAX(p95) * 1000) AS BIGINT) AS p95_milli,
  CAST(SUM(CASE WHEN len < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
  CAST(SUM(CASE WHEN len > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
  CAST(SUM(CAST(floor(greatest(p05, least(p95, len)) * 1000) AS BIGINT))
    AS BIGINT) AS sum_clamped_milli
FROM d JOIN stats ON d.source = stats.source
GROUP BY d.source
"""


# ANSI twin of queries.docs_editdist_neardup: same q-gram count-filter
# candidate generation (distinct positional 8-grams, df cull at 50,
# >= 10 shared), same exact levenshtein verify — clause-identical, so
# the engine's blocked join and the oracle's agree pair-for-pair.
ORACLES["docs_editdist_neardup"] = """
WITH d AS MATERIALIZED (SELECT doc_id, text FROM documents),
pos AS (
  SELECT doc_id, text,
    unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS i
  FROM d
),
grams AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 8) AS g FROM pos),
dfc AS (SELECT g, COUNT(*) AS n FROM grams GROUP BY g),
kept AS MATERIALIZED (
  SELECT doc_id, grams.g FROM grams JOIN dfc ON grams.g = dfc.g WHERE n <= 50
),
nk AS (SELECT doc_id, COUNT(*) AS n_kept FROM kept GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
thr AS (
  SELECT id_a, id_b, shared
  FROM cand JOIN nk x ON id_a = x.doc_id JOIN nk y ON id_b = y.doc_id
  WHERE shared >= greatest(10, least(x.n_kept, y.n_kept) - 128)
)
SELECT id_a, id_b, shared,
  CAST(levenshtein(x.text, y.text) AS INT) AS dist
FROM thr JOIN d x ON id_a = x.doc_id JOIN d y ON id_b = y.doc_id
WHERE levenshtein(x.text, y.text) <= 16
"""

# ANSI twin of queries.docs_editdist_dedup: the editdist candidate
# pipeline feeding the recursive-component + keeper decode of the
# docs_dedup_pipeline oracle — pair generation AND clustering both
# re-derived in SQL.
ORACLES["docs_editdist_dedup"] = """
WITH RECURSIVE
d AS MATERIALIZED (SELECT doc_id, text FROM documents),
pos AS (
  SELECT doc_id, text,
    unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS i
  FROM d
),
grams AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 8) AS g FROM pos),
dfc AS (SELECT g, COUNT(*) AS n FROM grams GROUP BY g),
kept AS MATERIALIZED (
  SELECT doc_id, grams.g FROM grams JOIN dfc ON grams.g = dfc.g WHERE n <= 50
),
nk AS (SELECT doc_id, COUNT(*) AS n_kept FROM kept GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
thr AS (
  SELECT id_a, id_b, shared
  FROM cand JOIN nk x ON id_a = x.doc_id JOIN nk y ON id_b = y.doc_id
  WHERE shared >= greatest(10, least(x.n_kept, y.n_kept) - 128)
),
pairs AS MATERIALIZED (
  SELECT id_a AS d1, id_b AS d2
  FROM thr JOIN d x ON id_a = x.doc_id JOIN d y ON id_b = y.doc_id
  WHERE levenshtein(x.text, y.text) <= 16
),
sym AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
nodes AS (SELECT DISTINCT a AS node FROM sym),
walk(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT s.b, w.label FROM walk w JOIN sym s ON s.a = w.node
),
comp AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node),
fp AS (SELECT doc_id, md5(text) AS fingerprint FROM documents),
ek AS (SELECT fingerprint, MIN(doc_id) AS exact_keeper FROM fp GROUP BY fingerprint),
wx AS (
  SELECT f.doc_id, e.exact_keeper, COALESCE(c.cluster_id, f.doc_id) AS cluster_id
  FROM fp f
  JOIN ek e ON f.fingerprint = e.fingerprint
  LEFT JOIN comp c ON c.doc_id = f.doc_id
)
SELECT doc_id,
  doc_id = LEAST(exact_keeper, cluster_id) AS kept,
  CASE WHEN doc_id = LEAST(exact_keeper, cluster_id) THEN 'keeper'
       WHEN exact_keeper < doc_id THEN 'exact_duplicate'
       ELSE 'near_duplicate' END AS dedup_reason,
  LEAST(exact_keeper, cluster_id) AS keeper_id
FROM wx
"""


# ANSI twin of queries.docs_snapshot_diff: same deterministic v1/v2
# manufacture, md5 fingerprints, FULL OUTER JOIN status decode.
ORACLES["docs_snapshot_diff"] = """
WITH v1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 9),
v2 AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END AS text
  FROM documents WHERE doc_id % 10 <> 0
),
o AS (SELECT doc_id AS oid, md5(text) AS ofp FROM v1),
n AS (SELECT doc_id AS nid, md5(text) AS nfp FROM v2)
SELECT COALESCE(oid, nid) AS doc_id,
  CASE WHEN oid IS NULL THEN 'added'
       WHEN nid IS NULL THEN 'removed'
       WHEN ofp <> nfp THEN 'changed'
       ELSE 'unchanged' END AS status
FROM o FULL OUTER JOIN n ON oid = nid
"""


# ---------------------------------------- TPC-H-ish round-6 widening
# ANSI twins of the six added relational shapes; predicates and the
# exact-arithmetic forms (integer/decimal cross-multiplies, single
# final double division) are clause-identical to the Spark side.
ORACLES["tpch_q4_order_priority"] = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate >= o_orderdate
      AND l_shipdate <= o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

ORACLES["tpch_q7_volume_shipping"] = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  CAST(year(l_shipdate) AS INT) AS l_year,
  {dsum_raw(REVENUE)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1, 2, 3
"""

ORACLES["tpch_q13_cust_distribution"] = """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN (SELECT * FROM orders WHERE o_orderpriority <> '1-URGENT') o
    ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

ORACLES["tpch_q14_promo_revenue"] = f"""
SELECT 100.0
  * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {REVENUE} END) AS DOUBLE)
  / CAST(SUM({REVENUE}) AS DOUBLE) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
"""

ORACLES["tpch_q17_small_qty_revenue"] = f"""
WITH lb AS MATERIALIZED (
  SELECT l_partkey, CAST(floor(l_quantity) AS BIGINT) AS qty, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#1'
),
stats AS (
  SELECT l_partkey AS sp_partkey, SUM(qty) AS sum_qty, COUNT(*) AS cnt
  FROM lb GROUP BY l_partkey
)
SELECT {dsum('l_extendedprice')} / 7.0 AS avg_yearly,
  COUNT(*) AS n_small_lines
FROM lb JOIN stats ON l_partkey = sp_partkey
WHERE 5 * qty * cnt < sum_qty
"""

ORACLES["tpch_q22_global_sales"] = """
WITH cu AS MATERIALIZED (
  SELECT c_custkey, c_nationkey, c_acctbal,
    CAST(c_acctbal AS DECIMAL(12,2)) AS bal
  FROM customer
),
pos AS (
  SELECT COUNT(*) AS n_pos, SUM(bal) AS sum_pos FROM cu WHERE c_acctbal > 0.0
)
SELECT c_nationkey, COUNT(*) AS numcust, CAST(SUM(bal) AS DOUBLE) AS totacctbal
FROM cu, pos
WHERE bal * n_pos > sum_pos
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""

ORACLES["tpch_q6_forecast_revenue"] = """
SELECT
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24.0
"""

ORACLES["tpch_q10_returned_items"] = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
  {dsum_raw(REVENUE)} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""

ORACLES["tpch_q12_late_lines"] = """
SELECT l_linestatus,
  COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        THEN 1 END) AS high_line_count,
  COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        THEN 1 END) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate >= o_orderdate + INTERVAL 90 DAY
GROUP BY l_linestatus
ORDER BY l_linestatus
"""

ORACLES["tpch_q15_top_supplier"] = f"""
WITH rev AS MATERIALIZED (
  SELECT l_suppkey AS supplier_no, {dsum_raw(REVENUE)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY s_suppkey
"""

ORACLES["tpch_q19_disjunctive_rev"] = f"""
SELECT {dsum_raw(REVENUE)} AS revenue, COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1.0 AND 11.0)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
       AND l_quantity BETWEEN 10.0 AND 20.0)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
       AND l_quantity BETWEEN 20.0 AND 30.0)
"""

ORACLES["tpch_q2_min_cost_supplier"] = """
WITH ps AS MATERIALIZED (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
),
eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
cand AS MATERIALIZED (
  SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name
  FROM ps
  JOIN eu ON l_suppkey = s_suppkey
  JOIN part ON l_partkey = p_partkey
  WHERE p_size = 25
),
mn AS (
  SELECT p_partkey AS mk, MIN(s_acctbal) AS min_bal
  FROM cand GROUP BY p_partkey
)
SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name
FROM cand JOIN mn ON p_partkey = mk AND s_acctbal = min_bal
ORDER BY p_partkey, s_suppkey
"""

ORACLES["tpch_q8_market_share"] = f"""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
  CAST(SUM(CASE WHEN n2.n_name = 'NATION_2' THEN {REVENUE}
           ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
  / CAST(SUM({REVENUE}) AS DOUBLE) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1
ORDER BY 1
"""

ORACLES["tpch_q9_product_profit"] = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
  CAST(SUM({REVENUE}
    - CAST(p_retailprice AS DECIMAL(12,2))
      * CAST(floor(l_quantity) AS BIGINT)) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""

ORACLES["tpch_q11_important_stock"] = """
WITH held AS MATERIALIZED (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS val
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY l_partkey
)
SELECT l_partkey, CAST(val AS DOUBLE) AS part_value
FROM held, (SELECT SUM(val) AS total_val FROM held) t
WHERE val * 500 > total_val
ORDER BY part_value DESC, l_partkey
"""

ORACLES["tpch_q20_promotion_parts"] = """
WITH qty AS MATERIALIZED (
  SELECT l_partkey, l_suppkey,
    SUM(CAST(floor(l_quantity) AS BIGINT)) AS sq
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY l_partkey, l_suppkey
),
tot AS (
  SELECT l_partkey AS tk, SUM(sq) AS tq FROM qty GROUP BY l_partkey
)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_1'
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM qty
    JOIN tot ON l_partkey = tk
    JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'red%' AND 4 * sq > tq)
ORDER BY s_suppkey
"""

# Literal EXISTS / NOT-EXISTS form — the Spark side runs the
# aggregation rewrite (per-order supplier counts), so this oracle is
# a genuine cross-plan differential, not a transliteration.
ORACLES["tpch_q21_waiting_suppliers"] = """
WITH l AS MATERIALIZED (
  SELECT l_orderkey, l_suppkey, o_orderdate, l_shipdate
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
)
SELECT s_suppkey, s_name, COUNT(*) AS numwait
FROM l l1 JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.l_shipdate >= l1.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM l l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM l l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate >= l3.o_orderdate + INTERVAL 60 DAY)
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey
LIMIT 10
"""


def _projection_coords_sql(dim: int = 64, k: int = 8, seed: int = 7) -> list[str]:
    """The k projected coordinates of `embedding` as SQL expressions:
    the SAME seeded Achlioptas {-1,0,+1} matrix as
    operators/projection.achlioptas_matrix, inlined as signed +/-
    terms over floor-milli-quantized elements — exact BIGINT
    arithmetic on both engines (floor on both sides: the CAST-rounds
    hazard)."""
    from irclogbot_spark.operators.projection import achlioptas_matrix

    m = achlioptas_matrix(dim, k, seed)

    def coord(j: int) -> str:
        terms = [
            ("+ " if s > 0 else "- ")
            + f"CAST(floor(CAST(embedding[{i + 1}] AS DOUBLE) * 1000) AS BIGINT)"
            for i, s in enumerate(m[j])
            if s != 0
        ]
        return "(0 " + " ".join(terms) + ")" if terms else "CAST(0 AS BIGINT)"

    return [coord(j) for j in range(k)]


def _random_projection_sql(dim: int = 64, k: int = 8, seed: int = 7) -> str:
    coords = _projection_coords_sql(dim, k, seed)
    cols = ",\n  ".join(f"{c} AS p{j}" for j, c in enumerate(coords))
    return f"SELECT vec_id,\n  {cols}\nFROM embeddings"


def _projection_recall_sql(r: int = 250, k: int = 5, k_dims: int = 16) -> str:
    """Full re-derivation of the two-stage projected-kNN recall:
    exact top-k (the emb_knn_join body), sketch top-r candidates over
    the inlined projection coordinates (integer-valued doubles —
    products < 2^53, so sketch cosines are bit-equal to Spark's
    fold), LEFT-JOIN hit flags, integer // milli recall with the
    n_exact = 0 guard (the docs_lsh_recall degenerate-input rule).
    The candidate sketch is 16-dim (vs the storage query's 8): on
    isotropic corpora candidate generation needs a wider sketch than
    byte-dieting — measured 15/15 vs 5/15 at sf0.01."""
    coords = _projection_coords_sql(k=k_dims)
    sk_list = "[" + ", ".join(coords) + "]"
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id IN (0, 1, 2)
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
        list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
          / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
             * sqrt(list_dot_product(q.qv, q.qv))) DESC, e.vec_id) AS rk
    FROM embeddings e, q WHERE e.vec_id <> q.query_id
  ) WHERE rk <= {k}
),
sk AS MATERIALIZED (
  SELECT vec_id, CAST({sk_list} AS DOUBLE[]) AS sv FROM embeddings
),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT qs.query_id, c.vec_id,
      ROW_NUMBER() OVER (PARTITION BY qs.query_id ORDER BY
        list_dot_product(c.sv, qs.sv)
          / (sqrt(list_dot_product(c.sv, c.sv)) * sqrt(list_dot_product(qs.sv, qs.sv))) DESC,
        c.vec_id) AS rk
    FROM sk c, (SELECT vec_id AS query_id, sv FROM sk WHERE vec_id IN (0, 1, 2)) qs
    WHERE c.vec_id <> qs.query_id
  ) WHERE rk <= {r}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
  CAST(SUM(CASE WHEN c.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
  CAST(CASE WHEN COUNT(*) > 0
       THEN (1000 * SUM(CASE WHEN c.vec_id IS NOT NULL THEN 1 ELSE 0 END)) // COUNT(*)
       ELSE 1000 END AS BIGINT) AS recall_milli
FROM exact e LEFT JOIN cand c ON e.query_id = c.query_id AND e.vec_id = c.vec_id
"""


# Same scoring association as emb_knn_join (list_dot_product /
# (sqrt*sqrt) — bit-equal to Spark's fold), plus the label-mismatch
# predicate and the 0.95 semi-hard ceiling applied BEFORE ranking.
ORACLES["emb_hard_negatives"] = """
WITH q AS (
  SELECT vec_id AS query_id, label AS qlabel, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id IN (0, 1, 2)
),
scored AS (
  SELECT q.query_id, e.vec_id, CAST(e.label AS BIGINT) AS label,
    list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
      / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
         * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
  FROM embeddings e, q
  WHERE e.vec_id <> q.query_id AND e.label <> q.qlabel
)
SELECT query_id, vec_id, label, cosine, neg_rank FROM (
  SELECT query_id, vec_id, label, cosine,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS neg_rank
  FROM scored WHERE cosine < 0.95
) WHERE neg_rank <= 5
"""


# 8-gram novelty: the decontamination oracle's shingle CTEs (grams
# DISTINCT by STRING before hashing — collisions must survive,
# mirroring hashed_shingles), distinct-DOC frequency, integer //
# rate. Too-short docs report (0, 0, 1000) via the outer LEFT JOINs.
ORACLES["docs_ngram_novelty"] = r"""
WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+7], ' ') AS shingle
  FROM t, UNNEST(range(1, len(toks) - 6)) AS r(i)
  WHERE len(toks) >= 8
),
hs AS (SELECT doc_id,
         CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 2147483647 AS h
       FROM grams),
dup_hashes AS (SELECT h FROM hs GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
dup AS (
  SELECT hs.doc_id, COUNT(*) AS dup_grams
  FROM hs JOIN dup_hashes USING (h) GROUP BY hs.doc_id
),
tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM hs GROUP BY doc_id)
SELECT d.doc_id,
  CAST(COALESCE(t.n_grams, 0) AS BIGINT) AS n_grams,
  CAST(COALESCE(u.dup_grams, 0) AS BIGINT) AS dup_grams,
  CAST(CASE WHEN COALESCE(t.n_grams, 0) > 0
       THEN (1000 * (t.n_grams - COALESCE(u.dup_grams, 0))) // t.n_grams
       ELSE 1000 END AS BIGINT) AS novelty_milli
FROM documents d
LEFT JOIN tot t ON d.doc_id = t.doc_id
LEFT JOIN dup u ON d.doc_id = u.doc_id
"""


# Source-overlap matrix: distinct (source, hash) after hashing (so
# within-source shingle collisions collapse, mirroring the engine's
# post-hash distinct), bounded sizes x sizes full matrix via the
# inequality join, CASE-guarded integer // rates.
ORACLES["docs_source_containment"] = r"""
WITH t AS (SELECT source, regexp_extract_all(text, '\S+') AS toks FROM documents),
grams AS (
  SELECT DISTINCT source, array_to_string(toks[i:i+7], ' ') AS shingle
  FROM t, UNNEST(range(1, len(toks) - 6)) AS r(i)
  WHERE len(toks) >= 8
),
hs AS (
  SELECT DISTINCT source,
    CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 2147483647 AS h
  FROM grams
),
sizes AS (
  SELECT d.source, COALESCE(c.n, 0) AS n_grams
  FROM (SELECT DISTINCT source FROM documents) d
  LEFT JOIN (SELECT source, COUNT(*) AS n FROM hs GROUP BY source) c
    ON d.source = c.source
),
common AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
  FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT sa.source AS src_a, sb.source AS src_b,
  CAST(sa.n_grams AS BIGINT) AS n_a,
  CAST(sb.n_grams AS BIGINT) AS n_b,
  CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common,
  CAST(CASE WHEN sa.n_grams > 0
       THEN (1000 * COALESCE(c.n_common, 0)) // sa.n_grams ELSE 0 END AS BIGINT)
    AS contain_a_milli,
  CAST(CASE WHEN sb.n_grams > 0
       THEN (1000 * COALESCE(c.n_common, 0)) // sb.n_grams ELSE 0 END AS BIGINT)
    AS contain_b_milli,
  CAST(CASE WHEN sa.n_grams + sb.n_grams - COALESCE(c.n_common, 0) > 0
       THEN (1000 * COALESCE(c.n_common, 0))
            // (sa.n_grams + sb.n_grams - COALESCE(c.n_common, 0))
       ELSE 0 END AS BIGINT) AS jaccard_milli
FROM sizes sa
JOIN sizes sb ON sa.source < sb.source
LEFT JOIN common c ON c.src_a = sa.source AND c.src_b = sb.source
"""


# Cluster-atomic split: the neardup_clusters recursive components,
# singletons folded in via the LEFT JOIN coalesce, then the exact
# split CASE keyed on the cluster label (same thresholds helper, so
# boundary rounding is shared — the docs_sample_split rule).
ORACLES["docs_leakage_safe_split"] = f"""
WITH RECURSIVE {_SHINGLES_CTE}, {_COMPONENTS_CTE},
cl AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
)
SELECT doc_id, cluster_id,
  {{split_case}} AS split
FROM cl
""".replace(
    "{split_case}",
    _split_case_sql(
        {"train": 0.8, "val": 0.1, "test": 0.1},
        "lsplit",
        "CAST(cluster_id AS VARCHAR)",
    ),
)


# Length-bucketed batching: same shard/order/cut arithmetic; COUNT
# and MAX are engine-agnostic, SUM needs the BIGINT cast (HUGEINT
# rule), the batch cut is integer //.
ORACLES["docs_length_batching"] = r"""
WITH base AS (
  SELECT doc_id, doc_id % 8 AS shard,
    len(regexp_extract_all(text, '\S+')) AS n_tokens
  FROM documents
),
rn AS (
  SELECT shard, n_tokens,
    ROW_NUMBER() OVER (PARTITION BY shard ORDER BY n_tokens, doc_id) AS r
  FROM base
)
SELECT shard, (r - 1) // 8 AS batch_id,
  COUNT(*) AS n_docs,
  CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
  CAST(MAX(n_tokens) * COUNT(*) - SUM(n_tokens) AS BIGINT) AS pad_waste
FROM rn GROUP BY shard, (r - 1) // 8
"""


# JSONL round-trip: the oracle never sees the .json.gz files — it
# re-derives the aggregate from the parquet source plus the planted
# corrupt-line count, so a lossy write/read (dropped rows, mangled
# text, silent corrupt-row loss) hash-mismatches.
# Round 8: WARC round trip — counts/chars/urls re-derived straight
# from documents (every record is a 200 response whose body is the
# doc text and whose target URI embeds source/doc_id, so each field
# checks one leg of the envelope framing).
ORACLES["docs_warc_ingest"] = """
SELECT
  CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_records,
  CAST((SELECT SUM(length(text)) FROM documents) AS BIGINT) AS total_chars,
  CAST((SELECT COUNT(DISTINCT source || '/' || doc_id) FROM documents) AS BIGINT)
    AS n_urls,
  CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_ok,
  CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_url_preserved
"""

ORACLES["docs_jsonl_ingest"] = """
SELECT
  CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_valid,
  CAST(2 AS BIGINT) AS n_corrupt,
  CAST((SELECT SUM(length(text)) FROM documents) AS BIGINT) AS total_chars,
  CAST((SELECT MAX(doc_id) FROM documents) AS BIGINT) AS max_doc_id,
  CAST((SELECT COUNT(DISTINCT source) FROM documents) AS BIGINT) AS n_sources
"""


# Count-min heavy hitters: the whole sketch rebuilt in SQL (the
# Bloom-filter oracle rule — nothing inlined), same md5 bucket hash,
# same deterministic top-10 probe set.
ORACLES["docs_heavy_hitters_cms"] = r"""
WITH tc AS (
  SELECT term, COUNT(*) AS cnt FROM (
    SELECT unnest(regexp_extract_all(text, '\S+')) AS term FROM documents
  ) GROUP BY term
),
cells AS (
  SELECT row, bucket, CAST(SUM(cnt) AS BIGINT) AS cell FROM (
    SELECT j AS row,
      CAST('0x' || substr(md5(CAST(j AS VARCHAR) || chr(31) || term), 1, 15) AS BIGINT) % 256 AS bucket,
      cnt
    FROM tc, UNNEST([0, 1, 2, 3]) AS t(j)
  ) GROUP BY row, bucket
),
top AS (
  SELECT term, CAST(cnt AS BIGINT) AS exact_cnt
  FROM tc ORDER BY cnt DESC, term LIMIT 10
),
probe AS (
  SELECT term, exact_cnt, j AS row,
    CAST('0x' || substr(md5(CAST(j AS VARCHAR) || chr(31) || term), 1, 15) AS BIGINT) % 256 AS bucket
  FROM top, UNNEST([0, 1, 2, 3]) AS t(j)
)
SELECT p.term, p.exact_cnt, CAST(MIN(c.cell) AS BIGINT) AS cms_estimate
FROM probe p JOIN cells c ON p.row = c.row AND p.bucket = c.bucket
GROUP BY p.term, p.exact_cnt
"""


# HLL: the sketch REBUILT in SQL (the Bloom/CMS rule) — same 48-bit
# md5 prefix hash, same bucket/rho split, same BIGINT shift sum and
# floor-divided alpha constant; the linear-counting table is the
# SAME Python-precomputed literal the Spark plan inlines, so no
# runtime ln() is ever compared across engines.
def _hll_distinct_sql(with_exact: bool = True) -> str:
    from irclogbot_spark.operators.hll import (
        HLL_C,
        HLL_SMALL_RANGE,
        hll_linear_table,
    )

    lc = ", ".join(str(v) for v in hll_linear_table())
    ex_cte = (
        """,
ex AS (
  SELECT source, CAST(COUNT(DISTINCT term) AS BIGINT) AS exact_distinct
  FROM terms GROUP BY source
)"""
        if with_exact
        else ""
    )
    ex_col = "ex.exact_distinct," if with_exact else ""
    ex_join = " JOIN ex ON e.source = ex.source" if with_exact else ""
    return rf"""
WITH t AS (SELECT source, regexp_extract_all(text, '\S+') AS toks FROM documents),
terms AS (
  SELECT source, array_to_string(toks[i:i+7], ' ') AS term
  FROM t, UNNEST(range(1, len(toks) - 6)) AS r(i)
  WHERE len(toks) >= 8
),
hashed AS (
  SELECT source, CAST('0x' || substr(md5(term), 1, 12) AS BIGINT) AS h FROM terms
),
regs AS (
  SELECT source, h % 256 AS bucket,
    MAX(CASE WHEN h // 256 = 0 THEN 41
             ELSE 41 - length(bin(h // 256)) END) AS register
  FROM hashed GROUP BY source, h % 256
),
st AS (
  SELECT source,
    CAST(SUM(CAST(1 AS BIGINT) << (41 - register)) AS BIGINT) AS s_present,
    COUNT(*) AS n_present
  FROM regs GROUP BY source
),
est AS (
  SELECT source, 256 - n_present AS v,
    {HLL_C} // (s_present + (256 - n_present) * (CAST(1 AS BIGINT) << 41)) AS est_raw
  FROM st
){ex_cte}
SELECT e.source, {ex_col}
  CAST(CASE WHEN e.est_raw <= {HLL_SMALL_RANGE} AND e.v > 0
       THEN ([{lc}])[CAST(e.v AS INT)] ELSE e.est_raw END AS BIGINT)
    AS hll_estimate,
  CAST(e.v AS BIGINT) AS n_zero_registers
FROM est e{ex_join}
"""


ORACLES["docs_hll_distinct"] = _hll_distinct_sql()

# Sketch-only twin (VERDICT r6 next #8): docs_hll_distinct's bench
# number is dominated by the exact-distinct referee riding in the
# same query; this twin is the sketch ALONE — the thing a 100 TB
# deployment actually runs — still value-hashed (the estimate is
# portable-md5 rebuilt), so its bench slot shows the sketch's real
# marginal cost.
ORACLES["docs_hll_sketch_only"] = _hll_distinct_sql(with_exact=False)


# Histogram quantile sketch: bins, cumulative, rank target, and the
# integer interpolation all re-derived; the window SUM needs the
# HUGEINT->BIGINT cast (the r5 lesson) and ranks use // on both
# sides (the CAST-rounds hazard).
ORACLES["docs_length_quantile_sketch"] = """
WITH h AS (
  SELECT source, n_chars // 16 AS bin, COUNT(*) AS cnt
  FROM documents GROUP BY source, n_chars // 16
),
cb AS (
  SELECT source, bin, cnt,
    CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY bin) AS BIGINT) AS cum,
    CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY bin) - cnt AS BIGINT)
      AS cum_below
  FROM h
),
tot AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n FROM h GROUP BY source),
qs AS (
  SELECT source, n, q_milli,
    CAST(1 + ((n - 1) * q_milli) // 1000 AS BIGINT) AS target
  FROM tot, UNNEST([500, 950, 990]) AS u(q_milli)
),
est AS (
  SELECT q.source, q.q_milli, q.n,
    CAST(16000 * c.bin
         + (16000 * (q.target - c.cum_below)) // c.cnt AS BIGINT) AS est_milli
  FROM qs q JOIN cb c ON q.source = c.source
   AND c.cum >= q.target AND c.cum_below < q.target
),
vc AS (
  SELECT source, n_chars AS v, COUNT(*) AS cnt
  FROM documents GROUP BY source, n_chars
),
vcb AS (
  SELECT source, v, cnt,
    CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cum,
    CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY v) - cnt AS BIGINT)
      AS cum_below
  FROM vc
),
ex AS (
  SELECT q.source, q.q_milli, CAST(c.v AS BIGINT) AS exact_value
  FROM qs q JOIN vcb c ON q.source = c.source
   AND c.cum >= q.target AND c.cum_below < q.target
)
SELECT e.source, CAST(e.q_milli AS BIGINT) AS q_milli, e.n, e.est_milli,
       x.exact_value
FROM est e JOIN ex x ON e.source = x.source AND e.q_milli = x.q_milli
"""


# SQ8: bounds re-trained in SQL (nothing inlined — integer MIN/MAX
# are partitioning-free), same // encode/decode, errors exact.
ORACLES["emb_sq8_error"] = """
WITH ms AS (
  SELECT vec_id, i,
    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS m
  FROM embeddings, UNNEST(range(1, 65)) AS r(i)
),
st AS (SELECT i, MIN(m) AS mn, MAX(m) - MIN(m) AS rng FROM ms GROUP BY i),
e AS (
  SELECT vec_id,
    abs((m - mn) - CASE WHEN rng > 0
      THEN (greatest(0, least(255, ((m - mn) * 255) // rng)) * rng) // 255
      ELSE 0 END) AS err
  FROM ms JOIN st USING (i)
)
SELECT vec_id,
  CAST(SUM(err) AS BIGINT) AS sum_abs_err_milli,
  CAST(MAX(err) AS BIGINT) AS max_abs_err_milli
FROM e GROUP BY vec_id
"""


# ANSI twin of queries.docs_priority_sample: same portable draw,
# same integer-quantized priority w*1e9 // (draw+1), the (k+1)-st
# priority as tau, max(w*1e9, tau) estimator — every step BIGINT.
ORACLES["docs_priority_sample"] = f"""
WITH d AS (
  SELECT doc_id, source, n_chars,
    {_portable_draw_sql('priority', 'CAST(doc_id AS VARCHAR)')} + 1 AS u1
  FROM documents
),
p AS (
  SELECT doc_id, source, n_chars,
    (CAST(n_chars AS BIGINT) * 1000000000) // u1 AS priority_nano
  FROM d
),
r AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY priority_nano DESC, doc_id) AS rn
  FROM p
),
t AS (
  SELECT COALESCE(MAX(CASE WHEN rn = 26 THEN priority_nano END), 0) AS tau
  FROM r
)
SELECT doc_id, source, n_chars, priority_nano,
  CAST(tau AS BIGINT) AS tau_nano,
  CAST(GREATEST(CAST(n_chars AS BIGINT) * 1000000000, tau) AS BIGINT)
    AS w_hat_nano
FROM r, t WHERE rn <= 25
"""


# ANSI twin of queries.events_anomaly_mad: same (type, day) counts,
# same rank-selected LOWER medians ((n+1) DIV 2 over (value, day)
# order), same integer 3*MAD compare — BIGINT end to end.
ORACLES["events_anomaly_mad"] = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
    CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT *, COUNT(*) OVER (PARTITION BY event_type) AS n,
    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cnt, day) AS rn
  FROM daily
),
med AS (
  SELECT *,
    MAX(CASE WHEN rn = (n + 1) // 2 THEN cnt END)
      OVER (PARTITION BY event_type) AS median_cnt
  FROM m
),
dev AS (
  SELECT *, abs(cnt - median_cnt) AS d,
    ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY abs(cnt - median_cnt), day) AS rn2
  FROM med
),
mad AS (
  SELECT *,
    MAX(CASE WHEN rn2 = (n + 1) // 2 THEN d END)
      OVER (PARTITION BY event_type) AS mad_cnt
  FROM dev
)
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n_days,
  CAST(MIN(median_cnt) AS BIGINT) AS median_cnt,
  CAST(MIN(mad_cnt) AS BIGINT) AS mad_cnt,
  CAST(SUM(CASE WHEN d > 3 * mad_cnt THEN 1 ELSE 0 END) AS BIGINT)
    AS n_anomalous_days
FROM mad GROUP BY event_type
"""


# ANSI twin of queries.docs_multikey_linkage: same three blocking
# keys (normalized-content md5, 12-token prefix md5, source:len
# tuple), same 2..max_bucket bucket window, edges closed with the
# recursive min-label walk (the components fixpoint the engine's
# iterative propagation converges to).
ORACLES["docs_multikey_linkage"] = r"""
WITH RECURSIVE
norm AS (
  SELECT doc_id, source, n_chars,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                        '\s+', ' ', 'g')) AS nt
  FROM documents
),
keyed AS (
  SELECT doc_id, 'content' AS kind, md5(nt) AS key FROM norm
  UNION ALL
  SELECT doc_id, 'prefix',
    md5(array_to_string(list_slice(regexp_extract_all(nt, '\S+'), 1, 12), ' '))
  FROM norm
  UNION ALL
  SELECT doc_id, 'srclen', source || ':' || CAST(n_chars AS VARCHAR) FROM norm
),
cnt AS (
  SELECT kind, key, COUNT(DISTINCT doc_id) AS n
  FROM keyed WHERE key IS NOT NULL GROUP BY 1, 2
),
ok AS (SELECT kind, key FROM cnt WHERE n > 1 AND n <= 1000),
lpairs AS (
  SELECT DISTINCT k1.doc_id AS d1, k2.doc_id AS d2
  FROM keyed k1
  JOIN keyed k2 USING (kind, key)
  JOIN ok USING (kind, key)
  WHERE k1.doc_id < k2.doc_id
),
lsym AS (SELECT d1 AS a, d2 AS b FROM lpairs
         UNION SELECT d2 AS a, d1 AS b FROM lpairs),
lnodes AS (SELECT DISTINCT a AS node FROM lsym),
lwalk(node, label) AS (
  SELECT node, node FROM lnodes
  UNION
  SELECT s.b, w.label FROM lwalk w JOIN lsym s ON s.a = w.node
),
lcomp AS (SELECT node AS doc_id, MIN(label) AS entity_id
          FROM lwalk GROUP BY node),
lsizes AS (SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS n_members
           FROM lcomp GROUP BY entity_id)
SELECT c.doc_id, c.entity_id, s.n_members
FROM lcomp c JOIN lsizes s USING (entity_id)
"""


# ANSI twin of queries.events_zorder_layout: the same unrolled
# shift/mask Morton interleave (bit b of x -> 2b+1, of y -> 2b),
# two's-complement masking identical across engines.
_ZORDER_TERMS = " + ".join(
    f"((((user_id & 255) >> {b}) & 1) << {2 * b + 1})"
    f" + (((dy >> {b}) & 1) << {2 * b})"
    for b in range(8)
)
ORACLES["events_zorder_layout"] = f"""
WITH d AS (
  SELECT event_id, user_id,
    CAST(date_diff('day', DATE '2024-01-01',
                   CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) & 255 AS dy
  FROM events
)
SELECT event_id,
  CAST(user_id & 255 AS BIGINT) AS zx,
  CAST(dy AS BIGINT) AS zy,
  CAST({_ZORDER_TERMS} AS BIGINT) AS zkey
FROM d
"""


# ANSI twin of queries.events_theil_sen_trend: same (type, day)
# counts, same truncating integer slope quantization (both engines
# truncate toward zero — verified on negatives), same rank-selected
# lower median over (slope, d1, d2) order.
ORACLES["events_theil_sen_trend"] = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
    CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
p AS (
  SELECT a.event_type, a.day AS d1, b.day AS d2,
    (1000 * (b.cnt - a.cnt)) // date_diff('day', a.day, b.day) AS slope_milli
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
),
r AS (
  SELECT *, COUNT(*) OVER (PARTITION BY event_type) AS np,
    ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY slope_milli, d1, d2) AS rn
  FROM p
),
med AS (
  SELECT event_type, CAST(MAX(np) AS BIGINT) AS n_pairs,
    CAST(MIN(CASE WHEN rn = (np + 1) // 2 THEN slope_milli END) AS BIGINT)
      AS trend_slope_milli
  FROM r GROUP BY event_type
),
nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
       FROM daily GROUP BY event_type)
SELECT event_type, n_days, n_pairs, trend_slope_milli
FROM med JOIN nd USING (event_type)
"""


# ANSI twin of queries.docs_prefix_filter_join: the straight
# quadratic all-pairs form over the same distinct 5-gram shingle
# sets with the same integer threshold compare — equality proves the
# prefix-filter candidate generation is COMPLETE (recall = 1), not
# just precise.
ORACLES["docs_prefix_filter_join"] = f"""
WITH {_SHINGLES_CTE}
SELECT d1, d2,
  CAST(inter AS BIGINT) AS n_common,
  CAST(s1.n + s2.n - inter AS BIGINT) AS n_union,
  CAST((1000 * inter) // (s1.n + s2.n - inter) AS BIGINT) AS jaccard_milli
FROM pairs
JOIN sizes s1 ON s1.doc_id = d1
JOIN sizes s2 ON s2.doc_id = d2
WHERE 5 * inter >= 4 * (s1.n + s2.n - inter)
"""


def _unigram_segment_sql(k: int = 200) -> str:
    """ANSI twin of queries.docs_unigram_segment. The gram counts are
    RE-DERIVED in DuckDB SQL (verified bit-equal to the Spark
    trainer: same normalization, same 24-char word cap, same
    frequency-weighted 1..4-gram positions, same (cnt DESC, gram)
    top-k); only the ln milli-nat quantization is shared Python
    (operators.unigram.train_unigram_costs — the one place floats
    exist, the DSIR plan-constant convention). The Viterbi fold
    replays as a recursive CTE: each iteration appends best[p] =
    min over starts s in [p-3, p] of best[s] + combined(piece), with
    the cost table inlined as a CASE in the lambda — identical
    integer arithmetic to the engine's F.aggregate."""
    import duckdb

    from irclogbot_spark.operators.unigram import (
        _PIECES_BASE,
        train_unigram_costs,
    )

    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    counts_sql = rf"""
WITH norm AS (
  SELECT trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                             '\s+', ' ', 'g')) AS nt
  FROM read_parquet('{sf_dir}/documents.parquet')
),
w0 AS (SELECT unnest(regexp_extract_all(nt, '\S+')) AS w FROM norm),
wf AS (SELECT substr(w, 1, 24) AS word, CAST(COUNT(*) AS BIGINT) AS wf
       FROM w0 GROUP BY 1),
g AS (
  SELECT substr(word, s.i, l.j) AS gram, CAST(SUM(wf) AS BIGINT) AS cnt
  FROM wf, unnest(range(1, length(word)+1)) s(i), unnest(range(1, 5)) l(j)
  WHERE s.i + l.j - 1 <= length(word)
  GROUP BY 1
)
SELECT gram, cnt FROM g ORDER BY cnt DESC, gram LIMIT {int(k)}
"""
    pairs = [(g, int(c)) for g, c in duckdb.sql(counts_sql).fetchall()]
    costs, unk = train_unigram_costs(pairs)
    branches = " ".join(
        f"WHEN '{g}' THEN {c * _PIECES_BASE + 1}"
        for g, c in sorted(costs.items())
    )
    case = f"CASE substr(word, s, i + 2 - s) {branches} END"
    unk_combined = unk * _PIECES_BASE + 1
    return rf"""
WITH RECURSIVE
norm AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                        '\s+', ' ', 'g')) AS nt
  FROM documents
),
occ0 AS (SELECT doc_id, unnest(regexp_extract_all(nt, '\S+')) AS w FROM norm),
occ AS (SELECT doc_id, substr(w, 1, 24) AS word,
          CAST(COUNT(*) AS BIGINT) AS n_occ
        FROM occ0 GROUP BY 1, 2),
dw AS (SELECT DISTINCT word FROM occ),
dp(word, i, best) AS (
  SELECT word, 0, [CAST(0 AS BIGINT)] FROM dw
  UNION ALL
  SELECT word, i + 1,
    list_append(best,
      list_min(list_filter(
        list_transform(range(CASE WHEN i + 1 > 4 THEN i - 2 ELSE 1 END, i + 2),
          s -> best[s] + COALESCE({case},
                 CASE WHEN i + 2 - s = 1 THEN {unk_combined} END)),
        x -> x IS NOT NULL)))
  FROM dp WHERE i < length(word)
),
seg AS (
  SELECT word,
    best[length(word)+1] // {_PIECES_BASE} AS wc,
    best[length(word)+1] % {_PIECES_BASE} AS wp
  FROM dp WHERE i = length(word)
)
SELECT occ.doc_id,
  CAST(SUM(n_occ) AS BIGINT) AS n_words,
  CAST(SUM(n_occ * wc) AS BIGINT) AS cost_milli,
  CAST(SUM(n_occ * wp) AS BIGINT) AS n_pieces
FROM occ JOIN seg USING (word)
GROUP BY occ.doc_id
"""


def _backoff_surprisal_sql(bigram_k: int = 500, unigram_k: int = 200) -> str:
    """ANSI twin of queries.docs_backoff_surprisal: gram tables
    RE-DERIVED in DuckDB (same \\S+ tokens, same space-joined
    bigrams, same (cnt DESC, gram) K-boundary, exact totals), the one
    Python ln quantization shared (operators.lm.train_backoff_costs),
    both cost tables inlined as CASE lookups, same integer scoring
    and DIV average."""
    import duckdb

    from irclogbot_spark.operators.lm import (
        BACKOFF_PENALTY_MILLI,
        train_backoff_costs,
    )

    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    base = rf"""
WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t
              FROM read_parquet('{sf_dir}/documents.parquet')),
g2 AS (
  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
         i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS gram
  FROM toks WHERE len(t) >= 2
),
g1 AS (SELECT unnest(t) AS gram FROM toks)
"""
    con = duckdb.connect()
    big = con.sql(
        base
        + f"SELECT gram, CAST(COUNT(*) AS BIGINT) FROM g2 GROUP BY gram "
        f"ORDER BY COUNT(*) DESC, gram LIMIT {int(bigram_k)}"
    ).fetchall()
    uni = con.sql(
        base
        + f"SELECT gram, CAST(COUNT(*) AS BIGINT) FROM g1 GROUP BY gram "
        f"ORDER BY COUNT(*) DESC, gram LIMIT {int(unigram_k)}"
    ).fetchall()
    n2 = con.sql(base + "SELECT COUNT(*) FROM g2").fetchone()[0]
    n1 = con.sql(base + "SELECT COUNT(*) FROM g1").fetchone()[0]
    bc, uc, unk = train_backoff_costs(
        [(g, int(c)) for g, c in big], [(g, int(c)) for g, c in uni],
        int(n2), int(n1),
    )

    def esc(s: str) -> str:
        return s.replace("'", "''")

    bcase = " ".join(
        f"WHEN '{esc(g)}' THEN {c}" for g, c in sorted(bc.items())
    )
    ucase = " ".join(
        f"WHEN '{esc(g)}' THEN {c}" for g, c in sorted(uc.items())
    )
    return rf"""
WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t
              FROM documents),
g AS (
  SELECT doc_id,
    unnest(list_transform(generate_series(1, len(t) - 1),
           i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS gram
  FROM toks WHERE len(t) >= 2
),
scored AS (
  SELECT doc_id,
    COALESCE(CASE gram {bcase} END,
             {BACKOFF_PENALTY_MILLI}
             + COALESCE(CASE string_split(gram, ' ')[2] {ucase} END, {unk}))
      AS cost
  FROM g
),
per AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
    CAST(SUM(cost) AS BIGINT) AS cost_milli
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
  COALESCE(p.n_grams, 0) AS n_grams,
  COALESCE(p.cost_milli, 0) AS cost_milli,
  CASE WHEN COALESCE(p.n_grams, 0) > 0
       THEN p.cost_milli // p.n_grams ELSE 0 END AS avg_cost_milli
FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
"""


# data-dependent oracles are deterministic per training-corpus dir, so
# the generated dict memoizes per SPARK_GRAFT_ORACLE_SF_DIR (mirrors
# the engine side's _UNIGRAM_COSTS/_BACKOFF_COSTS per-sf caches): the
# parity suite calls oracle_sql() once per parametrized test, and
# without the memo the unigram/backoff/centroid trainers re-scanned
# the corpus in DuckDB ~150 times per run (round-6 advice #3)
_ORACLE_SQL_CACHE: dict[str, dict[str, str]] = {}


def oracle_sql() -> dict[str, str]:
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    if sf_dir not in _ORACLE_SQL_CACHE:
        out = dict(ORACLES)
        # data-dependent oracles, built lazily so the training corpus
        # matches the SF the comparison actually runs at
        out["emb_ivf_topk"] = _ivf_topk_sql()
        out["docs_unigram_segment"] = _unigram_segment_sql()
        out["docs_backoff_surprisal"] = _backoff_surprisal_sql()
        out["emb_semantic_dedup"] = _semantic_dedup_sql()
        out["emb_ivf_recall"] = _ivf_recall_sql()
        out["emb_pq_topk"] = _pq_topk_sql()
        out["emb_ivfpq_topk"] = _ivfpq_topk_sql()
        out["docs_importance_resample"] = _importance_resample_sql()
        out["emb_kmeans_clusters"] = _kmeans_clusters_sql()
        out["emb_random_projection"] = _random_projection_sql()
        out["emb_projection_recall"] = _projection_recall_sql()
        _ORACLE_SQL_CACHE[sf_dir] = out
    # a copy, so callers can't mutate the memo
    return dict(_ORACLE_SQL_CACHE[sf_dir])

# Round 8: CLIP-score-style anchor gate — the centroid direction is
# an exact integer sum (order-free, so cross-engine reproducible);
# the cosine is the same sequential fold both engines use everywhere
# else in the embedding family.
ORACLES["emb_anchor_gate"] = """
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
coords AS (
  SELECT unnest(v) AS x,
         unnest(generate_series(1, len(v))) AS pos
  FROM base WHERE vec_id < 8
),
anch AS (
  SELECT pos, SUM(CAST(round(x * 1000) AS BIGINT)) AS c
  FROM coords GROUP BY pos
),
cent AS (SELECT list(CAST(c AS DOUBLE) ORDER BY pos) AS cv FROM anch)
SELECT vec_id,
  list_dot_product(v, cv)
    / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv)))
    AS anchor_cos
FROM base, cent
ORDER BY anchor_cos DESC, vec_id ASC
LIMIT 50
"""


# Round 9 (cont.): the ES match_phrase analog — list-native start
# positions (generate_series + list_filter) replay the consecutive-
# token check; the indexed twin shares this oracle (bit-equal by
# construction).
from irclogbot_spark.queries import _PHRASE as _PH  # noqa: E402

_PH_M = len(_PH)
_PH_PRED = " AND ".join(
    "toks[i + {}] = '{}'".format(j, t.replace("'", "''"))
    for j, t in enumerate(_PH)
)
_PHRASE_SQL = rf"""
WITH tok AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents
),
cnt AS (
  SELECT doc_id,
    CAST(len(list_filter(generate_series(1, len(toks) - {_PH_M - 1}),
         i -> {_PH_PRED})) AS BIGINT) AS phrase_count
  FROM tok
  WHERE len(toks) >= {_PH_M}
)
SELECT doc_id, phrase_count FROM cnt WHERE phrase_count > 0
"""
ORACLES["docs_phrase_search"] = _PHRASE_SQL
ORACLES["docs_phrase_search_indexed"] = _PHRASE_SQL
ORACLES["docs_phrase_search_atrest"] = _PHRASE_SQL


# Round 9 (cont.): ES highlight analog — identical 1-based,
# boundary-clamping substring math.
ORACLES["docs_highlight"] = """
WITH hit AS (
  SELECT doc_id, text, strpos(text, 'merge') AS pos
  FROM documents WHERE contains(text, 'merge')
)
SELECT doc_id, CAST(pos AS BIGINT) AS pos,
  substr(text, greatest(pos - 30, 1), pos - greatest(pos - 30, 1))
    || '<em>' || 'merge' || '</em>'
    || substr(text, pos + 5, 30) AS snippet
FROM hit
"""


# Round 9 (cont.): ES completion-suggester analog — prefix-filtered
# vocabulary ranked by corpus frequency.
ORACLES["docs_prefix_suggest"] = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS term FROM documents
),
post AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, term
),
agg AS (
  SELECT term, CAST(SUM(tf) AS BIGINT) AS freq,
         CAST(COUNT(*) AS BIGINT) AS df_docs
  FROM post WHERE term LIKE 's%' GROUP BY term
)
SELECT term, freq, df_docs,
  CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC) AS BIGINT) AS rnk
FROM agg
ORDER BY freq DESC, term ASC
LIMIT 10
"""


# Round 9 (cont.): ES search_after analog — keyset pagination on the
# (ts, event_id) total order.
ORACLES["events_search_after"] = """
SELECT event_id, ts, user_id, event_type, value
FROM events
WHERE ts > TIMESTAMP '2024-01-15 00:00:00'
   OR (ts = TIMESTAMP '2024-01-15 00:00:00' AND event_id > 0)
ORDER BY ts, event_id
LIMIT 20
"""


# Round 9 (cont.): ES composite-agg analog — bucket pagination
# strictly after the (42, 'click') after-key.
ORACLES["events_composite_agg"] = f"""
WITH g AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
         {dsum('value')} AS sum_value
  FROM events GROUP BY user_id, event_type
)
SELECT * FROM g
WHERE user_id > 42 OR (user_id = 42 AND event_type > 'click')
ORDER BY user_id, event_type
LIMIT 25
"""


# Round 9 (cont.): the geo pair — synthetic micro-degree points
# (operators/geo.py synthetic_point: LCG-multiplied key modulo the
# degree span), exact BIGINT planar distance / pure-integer grid
# cells.
_GEO_PT = """
  SELECT event_id, user_id, event_type,
    (user_id * 2654435761) % 180000000 - 90000000 AS lat_micro,
    (user_id * 2246822519) % 360000000 - 180000000 AS lon_micro
  FROM events
"""
ORACLES["events_geo_distance"] = f"""
WITH pts AS ({_GEO_PT}),
hits AS (
  SELECT * FROM pts
  WHERE lat_micro BETWEEN -30000000 AND 30000000
    AND lon_micro BETWEEN -30000000 AND 30000000
    AND lon_micro * lon_micro + lat_micro * lat_micro
        <= CAST(30000000 AS BIGINT) * 30000000
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM hits GROUP BY event_type
"""
ORACLES["events_geotile_grid"] = f"""
WITH pts AS ({_GEO_PT}),
cells AS (
  SELECT *,
    (lat_micro + 90000000) // 10000000 AS cell_y,
    (lon_micro + 180000000) // 30000000 AS cell_x
  FROM pts
),
agg AS (
  SELECT cell_x, cell_y, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM cells GROUP BY cell_x, cell_y
)
SELECT CAST(cell_x AS BIGINT) AS cell_x, CAST(cell_y AS BIGINT) AS cell_y,
       n_events, n_users,
       CAST(ROW_NUMBER() OVER (ORDER BY n_events DESC, cell_x, cell_y)
            AS BIGINT) AS rnk
FROM agg
ORDER BY n_events DESC, cell_x, cell_y
LIMIT 15
"""


# Round 9 (cont.): the ES pipeline-agg battery — cumulative_sum /
# derivative / moving_avg over the per-day date histogram, BIGINT
# end to end (the moving average is (window sum * 1000) // window
# rows, never a float division).
ORACLES["events_pipeline_aggs"] = """
WITH d AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
)
SELECT day, n_events,
  CAST(SUM(n_events) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
       AS BIGINT) AS cum_events,
  CAST(n_events - LAG(n_events) OVER (ORDER BY day) AS BIGINT)
    AS deriv_events,
  CAST((SUM(n_events) OVER w7 * 1000) // (COUNT(*) OVER w7) AS BIGINT)
    AS movavg_milli
FROM d
WINDOW w7 AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


# Round 9 (cont.): the ES percolate analog — the registered-query
# table inlined as VALUES from the same plan constant the Spark
# side broadcasts.
from irclogbot_spark.queries import _PERCOLATE_QUERIES as _PQ  # noqa: E402

_PQ_VALUES = ", ".join(
    "({}, '{}', {})".format(qid, t.replace("'", "''"), max(1, min(mm, len(set(terms)))))
    for qid, terms, mm in _PQ
    for t in sorted(set(terms))
)
ORACLES["docs_percolate"] = rf"""
WITH q(query_id, term, min_match) AS (VALUES {_PQ_VALUES}),
tok AS (
  SELECT DISTINCT doc_id, unnest(regexp_extract_all(text, '\S+')) AS term
  FROM documents
),
m AS (
  SELECT t.doc_id, q.query_id,
         CAST(COUNT(*) AS BIGINT) AS n_matched,
         MIN(q.min_match) AS mm
  FROM tok t JOIN q USING (term)
  GROUP BY t.doc_id, q.query_id
)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, n_matched
FROM m WHERE n_matched >= mm
"""


# Round 9 (cont.): the ES span_near analog — position lists per term
# re-derived in SQL, the greedy earliest-next chain replayed with
# nested list lambdas; NULL ends broken chains in both engines.
_SN_WINDOW = len(_PH) - 1 + 2  # slop=2
_SN_TERMS = [t.replace("'", "''") for t in _PH]
_SN_POS_CTES = ",\n".join(
    f"sp{j} AS (SELECT doc_id, ps AS ps{j} FROM spos WHERE term = '{t}')"
    for j, t in enumerate(_SN_TERMS)
)
_SN_CHAIN = "p"
for _j in range(1, len(_PH)):
    _SN_CHAIN = f"list_min(list_filter(ps{_j}, q{_j} -> q{_j} > {_SN_CHAIN}))"
ORACLES["docs_span_near"] = rf"""
WITH stok AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents
),
sidx AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM stok
),
spos AS (
  SELECT doc_id, toks[i] AS term, list(i ORDER BY i) AS ps
  FROM sidx GROUP BY doc_id, toks[i]
),
{_SN_POS_CTES},
cnt AS (
  SELECT sp0.doc_id,
    CAST(len(list_filter(ps0, p ->
      {_SN_CHAIN} - p <= {_SN_WINDOW})) AS BIGINT) AS n_spans
  FROM sp0
  {' '.join(f'JOIN sp{j} USING (doc_id)' for j in range(1, len(_PH)))}
)
SELECT doc_id, n_spans FROM cnt WHERE n_spans > 0
"""


# Round 9 (cont.): ES rare_terms analog — the long-tail complement
# of significant_terms.
ORACLES["docs_rare_terms"] = r"""
WITH pairs AS (
  SELECT DISTINCT doc_id, source,
         unnest(regexp_extract_all(text, '\S+')) AS term
  FROM documents
),
agg AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df_docs,
         list_sort(list(DISTINCT source)) AS sources
  FROM pairs GROUP BY term
)
SELECT term, df_docs, array_to_string(sources, ',') AS sources
FROM agg ORDER BY df_docs ASC, term ASC LIMIT 10
"""


# Round 9 (cont.): ES adjacency_matrix analog — one conditional-
# aggregate pass, k singles + C(k,2) intersections.
ORACLES["events_adjacency_matrix"] = """
SELECT
  CAST(SUM(CASE WHEN value >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS a,
  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS b,
  CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-01'
             AND ts < TIMESTAMP '2024-01-08' THEN 1 ELSE 0 END) AS BIGINT) AS c,
  CAST(SUM(CASE WHEN value >= 10 AND event_type = 'click'
            THEN 1 ELSE 0 END) AS BIGINT) AS a_b,
  CAST(SUM(CASE WHEN value >= 10 AND ts >= TIMESTAMP '2024-01-01'
             AND ts < TIMESTAMP '2024-01-08' THEN 1 ELSE 0 END) AS BIGINT) AS a_c,
  CAST(SUM(CASE WHEN event_type = 'click' AND ts >= TIMESTAMP '2024-01-01'
             AND ts < TIMESTAMP '2024-01-08' THEN 1 ELSE 0 END) AS BIGINT) AS b_c
FROM events
"""


# Round 10: exact-substring dedup (Lee et al. ExactSubstr) — the
# full pipeline replayed: md5_hash31 over every 8-token gram, the
# canonical first occurrence per duplicated hash via a (h) window,
# window-union excision, token-level rebuild.
ORACLES["docs_substring_dedup"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents
),
pos_ AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS pos FROM toks
),
occ AS (
  SELECT doc_id, CAST(pos AS INT) AS pos,
    CAST('0x' || substr(md5(array_to_string(t[pos:pos+7], ' ')), 1, 15)
         AS BIGINT) % 2147483647 AS h
  FROM pos_
),
flagged AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
      ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
      COUNT(*) OVER (PARTITION BY h) AS c
    FROM occ
  ) WHERE c > 1 AND rn > 1
),
removed AS (
  SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + 7)) AS rp
  FROM flagged
),
tokpos_ AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t))) AS p FROM toks
),
tokpos AS (SELECT doc_id, t[p] AS tok, p FROM tokpos_),
rebuilt AS (
  SELECT tk.doc_id,
    string_agg(tk.tok, ' ' ORDER BY tk.p) FILTER (WHERE r.rp IS NULL)
      AS clean_text,
    CAST(COUNT(r.rp) AS BIGINT) AS n_removed
  FROM tokpos tk
  LEFT JOIN removed r ON r.doc_id = tk.doc_id AND r.rp = tk.p
  GROUP BY tk.doc_id
)
SELECT d.doc_id,
  COALESCE(rb.clean_text, '') AS clean_text,
  CAST(len(d.t) AS BIGINT) AS n_tokens,
  COALESCE(rb.n_removed, 0) AS n_removed
FROM toks d LEFT JOIN rebuilt rb USING (doc_id)
"""


# Round 10 (cont.): the incremental form — history ids sort before
# batch ids, so the one-shot replay restricted to batch rows IS the
# incremental semantic (history outranks == globally-first).
ORACLES["docs_substring_dedup_incr"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents
),
pos_ AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS pos FROM toks
),
occ AS (
  SELECT doc_id, CAST(pos AS INT) AS pos,
    CAST('0x' || substr(md5(array_to_string(t[pos:pos+7], ' ')), 1, 15)
         AS BIGINT) % 2147483647 AS h
  FROM pos_
),
flagged AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
      ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
      COUNT(*) OVER (PARTITION BY h) AS c
    FROM occ
  ) WHERE c > 1 AND rn > 1
),
removed AS (
  SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + 7)) AS rp
  FROM flagged
),
tokpos_ AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t))) AS p FROM toks
),
tokpos AS (SELECT doc_id, t[p] AS tok, p FROM tokpos_),
rebuilt AS (
  SELECT tk.doc_id,
    string_agg(tk.tok, ' ' ORDER BY tk.p) FILTER (WHERE r.rp IS NULL)
      AS clean_text,
    CAST(COUNT(r.rp) AS BIGINT) AS n_removed
  FROM tokpos tk
  LEFT JOIN removed r ON r.doc_id = tk.doc_id AND r.rp = tk.p
  GROUP BY tk.doc_id
)
SELECT d.doc_id,
  COALESCE(rb.clean_text, '') AS clean_text,
  CAST(len(d.t) AS BIGINT) AS n_tokens,
  COALESCE(rb.n_removed, 0) AS n_removed
FROM toks d LEFT JOIN rebuilt rb USING (doc_id)
WHERE d.doc_id >= 250
"""


# Round 10 (cont.): the at-rest term-dictionary paths serve the SAME
# logical queries — second physical path, one value hash each (the
# bm25_indexed convention).
ORACLES["docs_fuzzy_term_search_atrest"] = ORACLES["docs_fuzzy_term_search"]
ORACLES["docs_more_like_this_atrest"] = ORACLES["docs_more_like_this"]
ORACLES["docs_prefix_suggest_atrest"] = ORACLES["docs_prefix_suggest"]


# Round 10 (cont.): ES wildcard analog — token-level full-regex
# match, the pattern translated * -> .*, ? -> . in both engines.
from irclogbot_spark.operators.trgm import py_wildcard_regex as _pwr  # noqa: E402
from irclogbot_spark.queries import _WILDCARDS as _WC  # noqa: E402

_WC_VALUES = ", ".join(
    "('{}', '{}')".format(p.replace("'", "''"), _pwr(p).replace("'", "''"))
    for p in _WC
)
ORACLES["docs_wildcard_search"] = f"""
WITH pats(pattern, re) AS (VALUES {_WC_VALUES}),
tok AS (
  SELECT DISTINCT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS tok
  FROM documents
)
SELECT DISTINCT p.pattern, t.doc_id
FROM tok t, pats p
WHERE regexp_full_match(t.tok, p.re)
"""
# span_near from the at-rest index — second physical path, one hash
ORACLES["docs_span_near_atrest"] = ORACLES["docs_span_near"]


# Round 10 (cont.): ES rescore — the bm25 oracle's expression as the
# first phase, phrase-adjacency count re-scoring the top-50 window.
ORACLES["docs_bm25_rescore"] = r"""
WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
base AS (
  SELECT doc_id, len(toks) AS dl,
    len(list_filter(toks, x -> x = 'the')) AS tf0,
    len(list_filter(toks, x -> x = 'data')) AS tf1
  FROM t
),
stats AS (
  SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n,
    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1
  FROM base
),
first AS (
  SELECT doc_id,
    ((CAST(n - df0 AS DOUBLE) + 0.5) / (df0 + 0.5))
      * ((tf0 * CAST(1.2 + 1.0 AS DOUBLE)) / (tf0 + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / avgdl)))
    + ((CAST(n - df1 AS DOUBLE) + 0.5) / (df1 + 0.5))
      * ((tf1 * CAST(1.2 + 1.0 AS DOUBLE)) / (tf1 + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / avgdl))) AS score_first
  FROM base, stats
  ORDER BY score_first DESC, doc_id LIMIT 50
),
resc AS (
  SELECT f.doc_id, f.score_first,
    CAST(len(list_filter(range(1, len(t.toks)),
         i -> t.toks[i] = 'the' AND t.toks[i+1] = 'data')) AS BIGINT) AS n_phrase
  FROM first f JOIN t USING (doc_id)
)
SELECT doc_id, score_first, n_phrase,
  score_first + n_phrase * 1000.0 AS score
FROM resc ORDER BY score DESC, doc_id LIMIT 10
"""
# wildcard from the persisted bucketed index — second physical path
ORACLES["docs_wildcard_search_indexed"] = ORACLES["docs_wildcard_search"]


# Round 10 (cont.): ES field collapsing — the bm25 expression ranked
# within source groups, top-2 per group.
ORACLES["docs_collapse_by_source"] = r"""
WITH t AS (SELECT doc_id, source, regexp_extract_all(text, '\S+') AS toks FROM documents),
base AS (
  SELECT doc_id, source, len(toks) AS dl,
    len(list_filter(toks, x -> x = 'the')) AS tf0,
    len(list_filter(toks, x -> x = 'data')) AS tf1
  FROM t
),
stats AS (
  SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n,
    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1
  FROM base
),
scored AS (
  SELECT doc_id, source,
    ((CAST(n - df0 AS DOUBLE) + 0.5) / (df0 + 0.5))
      * ((tf0 * CAST(1.2 + 1.0 AS DOUBLE)) / (tf0 + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / avgdl)))
    + ((CAST(n - df1 AS DOUBLE) + 0.5) / (df1 + 0.5))
      * ((tf1 * CAST(1.2 + 1.0 AS DOUBLE)) / (tf1 + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / avgdl))) AS score
  FROM base, stats
)
SELECT source, doc_id, score, rnk FROM (
  SELECT source, doc_id, score,
    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
  FROM scored
) WHERE rnk <= 2
"""
ORACLES["docs_collapse_by_source_atrest"] = ORACLES["docs_collapse_by_source"]

