"""DuckDB oracle SQL — one entry per key in ``farmrpg_etl_spark.queries``.

Each SQL string reproduces the matching Spark query's semantics on the
driver's pre-registered DuckDB views (region nation customer supplier
part orders lineitem events documents embeddings), with identical
column aliases, so the driver's row-count / schema / value-hash compare
is meaningful.

Cross-engine float discipline mirrors ``queries.py``: unordered SUMs go
through DECIMAL(18,6) (exact, order-independent), averages are
floor-truncated on bit-identical doubles, and all vector math is
written as explicit left-associated term chains matching Spark's
``F.aggregate`` fold order, so doubles agree bit-for-bit.

Hash/minhash/simhash oracles replicate the md5-based primitives of
``functions.hashing`` — md5 hex strings are bit-identical across
engines, which is exactly why the engine uses them.
"""

from __future__ import annotations

from farmrpg_etl_spark.operators.similarity import lsh_hyperplanes

# --------------------------------------------------------------------------
# shared SQL fragments
# --------------------------------------------------------------------------

# lowercased whitespace tokens, empties removed (== functions.hashing.words)
_TOKS = r"list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)"

# word 3-gram shingles (== functions.hashing.shingles, k=3)
_SHINGLES = (
    "CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[]) "
    "ELSE list_transform(generate_series(1, greatest(len(toks) - 2, 1)), "
    "i -> array_to_string(toks[i:i+2], ' ')) END"
)


from farmrpg_etl_spark.functions.hashing import _MOD, _family  # same constants


def _sig_elem(i: int) -> str:
    """One MinHash signature element (== dedup.minhash_signatures):
    min over shingles of (A*x1 + B*x2 + C) mod 2^31, where x1/x2 are
    the first two 32-bit words of md5(shingle)."""
    a, b, c = _family(i)
    h = (
        f"({a} * CAST('0x' || substr(md5(g), 1, 8) AS BIGINT)"
        f" + {b} * CAST('0x' || substr(md5(g), 9, 8) AS BIGINT)"
        f" + {c}) % {_MOD}"
    )
    return f"coalesce(list_min(list_transform(sh, g -> {h})), {_MOD})"


def _sig_list(num_hashes: int = 16) -> str:
    return "[" + ", ".join(_sig_elem(i) for i in range(num_hashes)) + "]"


def _band_key(b: int, rows: int) -> str:
    lo, hi = b * rows + 1, b * rows + rows
    return f"md5('band{b}|' || array_to_string(sig[{lo}:{hi}], ','))"


def _money(expr: str, digits: int = 2) -> str:
    return f"CAST(round(SUM(CAST({expr} AS DECIMAL(18,6))), {digits}) AS DOUBLE)"


def _avg4(expr: str) -> str:
    return (
        f"floor((CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"
        f" / COUNT(*)) * 10000.0) / 10000.0"
    )


def _dot(a: str, b: str, dim: int = 64) -> str:
    """Explicit left-associated dot product == Spark's aggregate fold."""
    return " + ".join(f"{a}[{i}]*{b}[{i}]" for i in range(1, dim + 1))


def _dot_lits(a: str, plane: list[float]) -> str:
    return " + ".join(f"{a}[{i}]*({plane[i-1]!r})" for i in range(1, len(plane) + 1))


def _sq(a: str, dim: int = 64) -> str:
    return " + ".join(f"{a}[{i}]*{a}[{i}]" for i in range(1, dim + 1))


# embeddings CTE with per-row double vectors and norms
_EMB = (
    "e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
    f"n AS (SELECT vec_id, label, v, sqrt({_sq('v')}) AS nrm FROM e), "
    # unit vectors (engine hoists normalization per row; pairwise cosine
    # is then one dot chain). Raw components ride along as rv — LSH block
    # bits stay on raw values so a knife-edge sign can't flip under the
    # division's rounding.
    "u AS (SELECT vec_id, label, v AS rv, CASE WHEN nrm = 0.0 THEN v "
    "ELSE list_transform(v, x -> x / nrm) END AS v FROM n)"
)

_LANGS = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "que", "los", "y"],
    "zh": ["的", "是", "了", "在", "我"],
}


def _hits(lang: str) -> str:
    lits = ", ".join(f"'{w}'" for w in _LANGS[lang])
    return f"len(list_filter(toks, t -> list_contains([{lits}], t)))"


# punctuation class used by text.punct_ratio (single quote doubled for SQL)
_PUNCT = "[^.,;:!?''\"()\\[\\]{}-]"

ORACLES: dict[str, str] = {}

# --------------------------------------------------------------------------
# relational core
# --------------------------------------------------------------------------

ORACLES["q1_pricing_summary"] = f"""
SELECT l_returnflag, l_linestatus,
  {_money('l_quantity')} AS sum_qty,
  {_money('l_extendedprice')} AS sum_base_price,
  {_money('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
  {_money('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
  {_avg4('l_quantity')} AS avg_qty,
  {_avg4('l_discount')} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""

ORACLES["q6_forecast_revenue"] = f"""
SELECT {_money('l_extendedprice * l_discount')} AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01'
  AND l_shipdate < TIMESTAMP '1995-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""

ORACLES["q3_shipping_priority"] = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {_money('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_shipdate > TIMESTAMP '1995-03-15'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""

ORACLES["q14_promo_revenue"] = f"""
WITH agg AS (
  SELECT p_brand,
    CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
         THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
         AS DECIMAL(18,6))) AS DOUBLE) AS promo,
    CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
         AS DECIMAL(18,6))) AS DOUBLE) AS total,
    {_money('l_extendedprice * (1 - l_discount)')} AS revenue,
    COUNT(*) AS n_items
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
)
SELECT p_brand,
       floor(promo / total * 1000000.0) / 1000000.0 AS promo_share,
       revenue, n_items
FROM agg
"""

ORACLES["revenue_by_nation"] = f"""
SELECT n_name,
  {_money('l_extendedprice * (1 - l_discount)')} AS revenue,
  COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""

ORACLES["regional_revenue"] = f"""
SELECT r_name, n_name,
  {_money('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""

ORACLES["top_customers_per_nation"] = f"""
WITH rev AS (
  SELECT o_custkey, {_money('o_totalprice')} AS rev
  FROM orders GROUP BY o_custkey
), j AS (
  SELECT n_name, c_custkey, rev
  FROM rev JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
)
SELECT n_name, c_custkey, rev, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY n_name ORDER BY rev DESC, c_custkey ASC) AS rank
  FROM j
) WHERE rank <= 3
"""

ORACLES["rollup_revenue"] = f"""
SELECT r_name, n_name,
  COUNT(*) AS n_customers,
  {_money('c_acctbal')} AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
"""

ORACLES["salted_sum_returnflag"] = f"""
SELECT l_returnflag, {_money('l_extendedprice')} AS total_price
FROM lineitem GROUP BY l_returnflag
"""

ORACLES["running_total_orders"] = """
SELECT o_custkey, o_orderkey,
  round(SUM(o_totalprice) OVER (
    PARTITION BY o_custkey ORDER BY o_orderkey ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_rev
FROM orders WHERE o_custkey <= 200
"""

# --------------------------------------------------------------------------
# reference operators on events
# --------------------------------------------------------------------------

ORACLES["sessionize_events"] = """
WITH e AS (SELECT user_id, ts, event_id FROM events),
g AS (
  SELECT *, date_diff('second', lag(ts) OVER w, ts) AS gap
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), s AS (
  SELECT *, CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS ns FROM g
), sid AS (
  SELECT *, CAST(SUM(ns) OVER (
    PARTITION BY user_id ORDER BY ts ASC, event_id ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM s
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(ts) AS start_ts, MAX(ts) AS end_ts
FROM sid GROUP BY user_id, session_id
"""

ORACLES["pivot_event_counts"] = """
SELECT user_id,
  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events GROUP BY user_id
"""

ORACLES["median_value_by_type"] = """
SELECT event_type,
       quantile_cont(value, 0.5) AS median_value,
       COUNT(*) AS n
FROM events GROUP BY event_type
"""

ORACLES["window_panel_events"] = """
SELECT user_id, event_id,
  lag(event_type) OVER w AS prev_type,
  lead(event_type) OVER w AS next_type,
  dense_rank() OVER wr AS value_rank,
  ntile(4) OVER wr AS value_quartile,
  COUNT(*) OVER (PARTITION BY user_id ORDER BY ts ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_so_far
FROM events WHERE user_id <= 20
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC),
       wr AS (PARTITION BY user_id ORDER BY value ASC, event_id ASC)
"""

ORACLES["set_ops_events"] = """
SELECT user_id FROM (
  SELECT user_id FROM events WHERE event_type = 'click' AND value > 198
  EXCEPT
  SELECT user_id FROM events WHERE event_type = 'error' AND value > 195
)
INTERSECT
SELECT user_id FROM events WHERE event_type = 'purchase'
"""

ORACLES["f1_http_guard"] = """
SELECT event_id, status FROM (
  SELECT event_id,
         CASE WHEN value < 150 THEN 200 ELSE 404 END AS status,
         event_type
  FROM events
) WHERE status = 200 AND event_type <> 'no access'
"""

ORACLES["f_filters_combined"] = """
SELECT event_id, ts, props FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
  AND event_type = 'click' AND len(props) = 9
"""

_A1 = """
SELECT user_id, ts, event_id, event_type, value FROM (
  SELECT user_id, ts, event_id, event_type, value,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""
ORACLES["a1_latest_event_per_user"] = _A1
ORACLES["a1_latest_event_per_user_agg"] = _A1

ORACLES["first_event_per_user_type"] = """
SELECT user_id, event_type, ts, event_id FROM (
  SELECT user_id, event_type, ts, event_id,
         row_number() OVER (
           PARTITION BY user_id, event_type ORDER BY ts ASC, event_id ASC) AS rn
  FROM events
) WHERE rn = 1
"""

_D1_CHANGES = """
SELECT user_id, ts, event_id, event_type FROM (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER w AS p, lag(ts) OVER w AS pts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
) WHERE pts IS NULL OR event_type IS DISTINCT FROM p
"""
ORACLES["d1_changes_events"] = _D1_CHANGES

ORACLES["d1_deleted_transitions"] = """
WITH base AS (
  SELECT user_id, ts, event_id, (event_type = 'error') AS deleted FROM events
), st AS (
  SELECT *, CASE WHEN deleted AND NOT lag(deleted) OVER w
                 THEN ts END AS flip_ts
  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
)
SELECT user_id, ts, event_id, deleted,
  last_value(flip_ts IGNORE NULLS) OVER (
    PARTITION BY user_id ORDER BY ts ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS deleted_ts
FROM st
"""

ORACLES["d1_message_cdc"] = """
WITH base AS (
  SELECT 'r' AS room, CAST(user_id AS VARCHAR) AS id, ts AS obs_ts,
         props AS content, (event_type = 'error') AS deleted
  FROM events
), st AS (
  SELECT *, CASE WHEN deleted AND NOT lag(deleted) OVER w
                 THEN obs_ts END AS flip_ts
  FROM base WINDOW w AS (PARTITION BY room, id ORDER BY obs_ts ASC)
), stamped AS (
  SELECT room, id, obs_ts, content, deleted,
    last_value(flip_ts IGNORE NULLS) OVER (
      PARTITION BY room, id ORDER BY obs_ts ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS deleted_ts
  FROM st
)
SELECT room, id, obs_ts, content, deleted, deleted_ts FROM (
  SELECT *, lag(content) OVER w AS pc, lag(deleted) OVER w AS pd,
         lag(obs_ts) OVER w AS pts
  FROM stamped
  WINDOW w AS (PARTITION BY room, id ORDER BY obs_ts ASC)
) WHERE pts IS NULL OR content IS DISTINCT FROM pc OR deleted IS DISTINCT FROM pd
"""

ORACLES["d4_noop_eliminate"] = """
SELECT user_id, ts, event_type, value FROM (
  SELECT user_id, ts, event_type, value,
         lag(event_type) OVER w AS pt, lag(value) OVER w AS pv,
         lag(ts) OVER w AS pts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
) WHERE pts IS NULL
   OR event_type IS DISTINCT FROM pt OR value IS DISTINCT FROM pv
"""

ORACLES["d5_change_pairs"] = """
SELECT user_id, ts, event_type, prev_event_type FROM (
  SELECT user_id, ts, event_type,
         lag(event_type) OVER w AS prev_event_type, lag(ts) OVER w AS pts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
) WHERE pts IS NULL OR event_type IS DISTINCT FROM prev_event_type
"""

ORACLES["d6_absent_from_sink"] = """
SELECT event_id, user_id FROM events e
WHERE NOT EXISTS (
  SELECT 1 FROM customer c WHERE c.c_custkey > 50 AND c.c_custkey = e.user_id)
"""

ORACLES["j2_correlated_update"] = """
WITH u AS (
  SELECT c_custkey AS o_custkey, '0-UPDATED' AS np
  FROM customer WHERE c_custkey % 100 = 0
)
SELECT o.o_orderkey, o.o_custkey,
       coalesce(u.np, o.o_orderpriority) AS o_orderpriority
FROM orders o LEFT JOIN u USING (o_custkey)
"""

ORACLES["j3_fk_hydrate"] = """
SELECT c_custkey, c_name, n_name
FROM customer JOIN nation ON c_nationkey = n_nationkey
"""

ORACLES["j4_upsert"] = """
WITH c AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
u AS (
  SELECT c_custkey, c_name, round(c_acctbal + 100, 2) AS c_acctbal
  FROM c WHERE c_custkey <= 100
), i AS (
  SELECT c_custkey + 3000000 AS c_custkey,
         'ins_' || CAST(c_custkey AS VARCHAR) AS c_name,
         0.0 AS c_acctbal
  FROM c WHERE c_custkey <= 50
), inc AS (SELECT * FROM u UNION ALL SELECT * FROM i)
SELECT coalesce(e.c_custkey, inc.c_custkey) AS c_custkey,
       coalesce(e.c_name, inc.c_name) AS c_name,
       coalesce(inc.c_acctbal, e.c_acctbal) AS c_acctbal
FROM c e FULL OUTER JOIN inc ON e.c_custkey = inc.c_custkey
"""

# The login flow composed (reference api/auth.py:44-46 +
# models/user.py:27-33): token uid -> user by unique firebase_uid ->
# latest snapshot per user (ts DESC, event_id tiebreak) -> custom
# claims (ranger wins over farmhand); unmatched tokens and
# snapshot-less users carry NULL claims.
ORACLES["auth_lookup_users"] = """
WITH users AS (
  SELECT c_custkey AS user_id,
         md5('fb|' || CAST(c_custkey AS VARCHAR)) AS firebase_uid
  FROM customer
), tokens AS (
  SELECT md5('fb|' || CAST(c_custkey AS VARCHAR)) AS uid
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT md5('nouser|' || CAST(c_custkey AS VARCHAR)) AS uid
  FROM customer WHERE c_custkey < 10
), matched AS (
  SELECT t.uid, u.user_id
  FROM users u JOIN tokens t ON u.firebase_uid = t.uid
), snaps AS (
  SELECT e.user_id, e.ts, e.event_id,
         'user_' || CAST(e.user_id AS VARCHAR) AS username,
         e.value > 100 AS is_farmhand,
         e.event_type = 'purchase' AS is_ranger
  FROM events e
  WHERE e.user_id IN (SELECT user_id FROM matched)
), top AS (
  SELECT user_id, username, is_farmhand, is_ranger
  FROM (SELECT *, row_number() OVER (
          PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM snaps)
  WHERE rn = 1
)
SELECT m.uid, m.user_id, t.username,
       CASE WHEN t.is_ranger THEN 'ranger'
            WHEN t.is_farmhand THEN 'farmhand' END AS role
FROM matched m LEFT JOIN top t USING (user_id)
UNION ALL
SELECT tk.uid, CAST(NULL AS BIGINT) AS user_id,
       CAST(NULL AS VARCHAR) AS username, CAST(NULL AS VARCHAR) AS role
FROM tokens tk WHERE tk.uid NOT IN (SELECT uid FROM matched)
"""

# --------------------------------------------------------------------------
# scalar semantics on crafted literals (must mirror queries.SCALAR_ROWS)
# --------------------------------------------------------------------------

_SCALAR_VALUES = """VALUES
  (0, 'javascript:delChat(5364278)'),
  (10, 'javascript:undelChat(99)'),
  (1, 'hi @bob and @alice: hello'),
  (2, '<strong>Xpath</strong> test'),
  (3, '<a class="close-panel" href="profile.php?user_name=Ryber" style="color:teal">@Ryber</a> hi'),
  (4, '3 flags'),
  (5, '1 flag'),
  (6, 'no flags here'),
  (7, 'line one<br>line two<br/>three'),
  (8, '  REGISTER abc123  '),
  (9, '/img/emblems/farmer.png')"""

_FIRST_LINE = r"str_split(regexp_replace(txt, '<br\s*/?>', chr(10), 'g'), chr(10))[1]"

ORACLES["scalar_text_functions"] = rf"""
WITH t(id, txt) AS ({_SCALAR_VALUES})
SELECT id,
  coalesce(array_to_string(regexp_extract_all(txt, '@([A-Za-z0-9_]+)', 1), ','), '') AS mentions,
  regexp_replace(txt, '<strong>\w+path</strong>',
                 '<strong>Forcepath</strong>', 'g') AS censored,
  regexp_replace(txt,
    '<a class="close-panel" href="profile\.php\?user_name=[^">]+" style="color:teal">@([^">]+)</a>',
    '@\1:', 'g') AS profile_rw,
  coalesce(TRY_CAST(regexp_extract(txt, '^(\d+) flags?$', 1) AS INTEGER), 0) AS flags,
  {_FIRST_LINE} AS first_line,
  lower(str_split(trim({_FIRST_LINE}), ' ')[1]) AS cmd,
  str_split(txt, '/')[-1] AS emblem,
  regexp_extract(txt, '^javascript:(?:un)?delChat\((\d+)\)$', 1) AS delchat
FROM t
"""

_DT_VALUES = """VALUES
  (1, '01:23:45 PM', 'Jan 15, 08:05:01 AM', '2024-06-01 12:00:00',
   'https://farmrpg.com/profile.php?user_name=Bob%20Jr&x=1'),
  (2, '12:00:00 AM', 'Dec 31, 11:59:59 PM', '2024-01-15 03:30:00',
   'https://x/p.php?a=1&user_name=Alice')"""

ORACLES["datetime_semantics"] = f"""
WITH t(id, t12, tmd, tiso, url) AS ({_DT_VALUES})
SELECT id,
  hour(strptime(t12, '%I:%M:%S %p')) AS h12,
  minute(strptime(t12, '%I:%M:%S %p')) AS m12,
  second(strptime(t12, '%I:%M:%S %p'))::INTEGER AS s12,
  month(strptime(tmd, '%b %d, %I:%M:%S %p')) AS mo,
  day(strptime(tmd, '%b %d, %I:%M:%S %p')) AS dom,
  hour(strptime(tmd, '%b %d, %I:%M:%S %p')) AS hmd,
  CAST(epoch(timezone('America/Chicago', CAST(tiso AS TIMESTAMP))) AS BIGINT) AS utc_epoch,
  CAST(CAST(tiso AS TIMESTAMP) - INTERVAL 1 DAY AS VARCHAR) AS day_rollover,
  CAST(CAST(tiso AS TIMESTAMP) - INTERVAL 12 MONTH AS VARCHAR) AS year_rollover,
  regexp_extract(url, '[?&]user_name=([^&]*)', 1) AS uname,
  replace(regexp_extract(url, '[?&]user_name=([^&]*)', 1), '%20', ' ') AS uname_dec
FROM t
"""

# --------------------------------------------------------------------------
# LLM pipeline: dedup / similarity / text analysis / multimodal
# --------------------------------------------------------------------------

ORACLES["exact_dedup_docs"] = r"""
WITH d AS (SELECT doc_id, substr(text, 1, 60) AS text FROM documents)
SELECT doc_id, text FROM d
QUALIFY doc_id = min(doc_id) OVER (
  PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
"""

_SHINGLE_CTE = f"""
d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, toks, {_SHINGLES} AS sh FROM d)
"""

ORACLES["minhash_signatures_docs"] = f"""
WITH {_SHINGLE_CTE}
SELECT doc_id, array_to_string({_sig_list(16)}, ',') AS sig FROM s
"""

_BUCKETS = "\nUNION ALL\n".join(
    f"SELECT doc_id, sig, {b} AS band_id, {_band_key(b, 4)} AS band_key FROM sigs"
    for b in range(4)
)

ORACLES["minhash_lsh_pairs_docs"] = f"""
WITH {_SHINGLE_CTE},
sigs AS (SELECT doc_id, {_sig_list(16)} AS sig FROM s),
buckets AS ({_BUCKETS}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sig AS sig_a, b.sig AS sig_b
  FROM buckets a JOIN buckets b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, jaccard FROM (
  SELECT id_a, id_b,
    round(list_sum(list_transform(generate_series(1, 16),
      i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) / 16.0, 6) AS jaccard
  FROM cand
) WHERE jaccard >= 0.3
"""


def _simhash_sql() -> str:
    sums = []
    for nibble in range(16):
        for j, shift in enumerate((3, 2, 1, 0)):
            idx = nibble * 4 + j
            sums.append(
                f"SUM(((strpos('0123456789abcdef', substr(h, {nibble + 1}, 1)) - 1)"
                f" // {2 ** shift}) % 2) AS c{idx}"
            )
    chars = []
    for nibble in range(16):
        val = " + ".join(
            f"(CASE WHEN 2 * c{nibble * 4 + j} > total THEN {2 ** shift} ELSE 0 END)"
            for j, shift in enumerate((3, 2, 1, 0))
        )
        chars.append(f"substr('0123456789abcdef', 1 + ({val}), 1)")
    concat = " || ".join(chars)
    return f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
t AS (SELECT doc_id, unnest(toks) AS tok FROM d),
hh AS (SELECT doc_id, md5(tok) AS h FROM t),
c AS (SELECT doc_id, COUNT(*) AS total, {', '.join(sums)} FROM hh GROUP BY doc_id)
SELECT d.doc_id,
  CASE WHEN c.doc_id IS NULL THEN '0000000000000000' ELSE {concat} END AS simhash
FROM d LEFT JOIN c ON d.doc_id = c.doc_id
"""


ORACLES["simhash_docs"] = _simhash_sql()

# Hamming-band pairs over the same fingerprints: 4 bands of 4 hex chars
# (pigeonhole: Hamming ≤ 3 ⇒ at least one band matches exactly), exact
# Hamming verify via per-nibble bit_count(xor(digit_a, digit_b)).
_SIMHASH_BANDS = "\nUNION ALL\n".join(
    f"SELECT doc_id, simhash, {b} AS band_id,"
    f" substr(simhash, {1 + b * 4}, 4) AS band_key FROM sh"
    for b in range(4)
)

ORACLES["simhash_pairs_docs"] = f"""
WITH sh AS ({_simhash_sql()}),
bands AS ({_SIMHASH_BANDS}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sa, b.simhash AS sb
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM (
  SELECT id_a, id_b,
    CAST(list_sum(list_transform(generate_series(1, 16),
      i -> bit_count(xor(CAST(strpos('0123456789abcdef', substr(sa, i, 1)) - 1 AS BIGINT),
                         CAST(strpos('0123456789abcdef', substr(sb, i, 1)) - 1 AS BIGINT)))))
      AS INT) AS hamming
  FROM cand
) WHERE hamming <= 3
"""

_JACC = (
    "CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0 "
    "ELSE CAST(len(list_distinct(list_filter(a.sh, x -> list_contains(b.sh, x)))) AS DOUBLE)"
    " / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) END"
)

ORACLES["ngram_jaccard_docs"] = f"""
WITH d AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
s AS (
  SELECT doc_id,
    lang || '#' || CAST(CAST(floor(
      log2(CAST(greatest(len(toks), 1) AS DOUBLE)) / 0.5) AS INTEGER) AS VARCHAR)
      AS block,
    {_SHINGLES} AS sh
  FROM d
)
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, round({_JACC}, 6) AS jaccard
  FROM s a JOIN s b ON a.block = b.block AND a.doc_id < b.doc_id
) WHERE jaccard > 0.15
"""

_LANG_MAX = "greatest(" + ", ".join(f"s_{lang}" for lang in sorted(_LANGS)) + ")"
_LANG_CASE = (
    "CASE WHEN " + _LANG_MAX + " IS NULL OR " + _LANG_MAX + " = 0 THEN 'und' "
    + " ".join(f"WHEN s_{lang} = {_LANG_MAX} THEN '{lang}'" for lang in sorted(_LANGS))
    + " END"
)

# Char-trigram lang-id (functions/text.py LANG_TRIGRAM_PROFILES and
# queries._LANGID_TEMPLATES, pinned verbatim). Counting is
# (len - len(replace))/3 on the space-padded lowercase probe; integer
# weights; argmax with alphabetical tie-break via a strictly-first
# CASE chain, 'und' when no trigram hits.
_TRIGRAM_PROFILES = {
    "en": {"the": 2, "ing": 2, " of": 2, " to": 1, "nd ": 1, "ed ": 1},
    "de": {"sch": 2, "ich": 2, "und": 2, "der": 1, "die": 1, "ein": 1, "cht": 1},
    "es": {" el": 2, "ión": 2, " y ": 2, "ado": 1, "que": 1, "los": 1},
    "fr": {"aux": 2, "eau": 2, "oir": 1, " le": 1, "ent": 1, "des": 1},
    "it": {"gli": 2, "lla": 2, " il": 2, "zio": 1, "che": 1, "ato": 1},
    "pt": {"ção": 2, "ão ": 2, "os ": 1, " um": 1, "ara": 1, "ade": 1},
}

_LANGID_TEMPLATES = [
    "the cat and the dog are walking in the garden with their friends of the town",
    "der hund und die katze gehen durch den wald und schauen sich die lichter an",
    "el perro y el gato caminan por el parque que está cerca de la casa y los árboles",
    "le chien et le chat marchent dans les beaux jardins aux enfants avec leur espoir",
    "il cane e il gatto camminano nel parco che si trova vicino alla casa degli amici",
    "o cão e o gato caminham pelo parque com uma alegria que fica perto da casa não longe",
]


def _tg_score(lang: str) -> str:
    terms = " + ".join(
        f"(length(lt) - length(replace(lt, '{tg}', ''))) / 3 * {w}"
        for tg, w in _TRIGRAM_PROFILES[lang].items()
    )
    return f"CAST({terms} AS BIGINT)"


_TGL = sorted(_TRIGRAM_PROFILES)
_TG_TPL_CASE = "CASE CAST(doc_id % 6 AS INT) " + " ".join(
    f"WHEN {i} THEN '{t}'" for i, t in enumerate(_LANGID_TEMPLATES)
) + " END"
_TG_MAX = "greatest(" + ", ".join(f"s_{lang}" for lang in _TGL) + ")"

_SCRIPT_TEMPLATES = [
    "собака и кошка гуляют в парке рядом с домом и смотрят на деревья и цветы",
    "الكلب والقطة يمشيان في الحديقة بالقرب من المنزل وينظران إلى الأشجار والزهور",
    "개와 고양이가 집 근처 공원에서 산책하며 나무와 꽃을 바라보고 있다",
    "狗和猫在家附近的公园里散步看着树木和花朵它们很开心每天都来这里玩耍",
    "犬と猫は家の近くの公園をさんぽしながらきれいなはなをながめています",
]

_SCRIPT_TPL_CASE = "CASE CAST(doc_id % 11 AS INT) " + " ".join(
    f"WHEN {i} THEN '{t}'"
    for i, t in enumerate(_LANGID_TEMPLATES + _SCRIPT_TEMPLATES)
) + " END"

# identical codepoint ranges as functions/text.SCRIPT_RANGES
_SCRIPT_RE = {
    "ar": r"[\x{0600}-\x{06ff}\x{0750}-\x{077f}]",
    "ru": r"[\x{0400}-\x{04ff}]",
    "ko": r"[\x{ac00}-\x{d7af}\x{1100}-\x{11ff}]",
    "kana": r"[\x{3040}-\x{309f}\x{30a0}-\x{30ff}]",
    "han": r"[\x{4e00}-\x{9fff}]",
}


def _script_cnt(key: str, col: str = "probe") -> str:
    return (
        f"len({col}) - len(regexp_replace({col}, '{_SCRIPT_RE[key]}', '', 'g'))"
    )


# script-aware lang id: codepoint-range dominance decides non-Latin
# scripts (ja = 2*kana, zh = Han net of kana), else the trigram argmax
ORACLES["lang_id_script_docs"] = f"""
WITH t AS (
  SELECT doc_id,
         {_SCRIPT_TPL_CASE} || ' ' ||
         lower(substring(coalesce(text, ''), 1, 60)) AS probe
  FROM documents
), c AS (
  SELECT doc_id, probe,
         {_script_cnt("ar")} AS c_ar,
         {_script_cnt("ru")} AS c_ru,
         {_script_cnt("ko")} AS c_ko,
         {_script_cnt("kana")} AS c_kana,
         {_script_cnt("han")} AS c_han,
         len(regexp_replace(probe, '\\s', '', 'g')) AS n
  FROM t
), sc AS (
  SELECT doc_id, probe, n,
         c_ar AS v_ar, 2 * c_kana AS v_ja, c_ko AS v_ko,
         c_ru AS v_ru, greatest(c_han - 2 * c_kana, 0) AS v_zh
  FROM c
), m AS (
  SELECT *, greatest(v_ar, v_ja, v_ko, v_ru, v_zh) AS best,
         ' ' || lower(probe) || ' ' AS lt
  FROM sc
), s AS (
  SELECT doc_id, best, n, v_ar, v_ja, v_ko, v_ru, v_zh,
         {', '.join(f'{_tg_score(lang)} AS s_{lang}' for lang in _TGL)}
  FROM m
), g AS (SELECT *, {_TG_MAX} AS mx FROM s)
SELECT doc_id,
       CASE WHEN best > 0 AND best * 5 >= n THEN
              CASE WHEN v_ar = best THEN 'ar'
                   WHEN v_ja = best THEN 'ja'
                   WHEN v_ko = best THEN 'ko'
                   WHEN v_ru = best THEN 'ru'
                   ELSE 'zh' END
            WHEN mx <= 0 THEN 'und'
            {' '.join(f"WHEN s_{lang} = mx THEN '{lang}'" for lang in _TGL)}
       END AS lang
FROM g
"""

ORACLES["lang_id_ngram_docs"] = f"""
WITH t AS (
  SELECT doc_id,
         ' ' || {_TG_TPL_CASE} || ' ' ||
         lower(substring(coalesce(text, ''), 1, 60)) || ' ' AS lt
  FROM documents
), s AS (
  SELECT doc_id, {', '.join(f'{_tg_score(lang)} AS s_{lang}' for lang in _TGL)}
  FROM t
), m AS (SELECT *, {_TG_MAX} AS mx FROM s)
SELECT doc_id,
       CASE WHEN mx <= 0 THEN 'und'
            {' '.join(f"WHEN s_{lang} = mx THEN '{lang}'" for lang in _TGL)}
       END AS lang
FROM m
"""

ORACLES["text_metrics_docs"] = rf"""
WITH d AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
m AS (
  SELECT doc_id, text, toks,
    {', '.join(f'{_hits(lang)} AS s_{lang}' for lang in sorted(_LANGS))},
    CASE WHEN len(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok,
    CASE WHEN len(text) = 0 THEN 0.0
         ELSE CAST(len(regexp_replace(text, '{_PUNCT}', '', 'g')) AS DOUBLE)
              / len(text) END AS praw
  FROM d
), q AS (
  SELECT *,
    CASE WHEN n_tok = 0 THEN 0.0
         ELSE CAST(s_en AS DOUBLE) / n_tok END AS sraw,
    CASE WHEN len(text) >= 100 AND len(text) <= 4000 THEN 1.0
         WHEN len(text) < 100 THEN CAST(len(text) AS DOUBLE) / 100.0
         ELSE 4000.0 / CAST(len(text) AS DOUBLE) END AS len_score
  FROM m
)
SELECT doc_id,
  {_LANG_CASE} AS lang_pred,
  n_tok AS n_tokens,
  len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])', 1)) AS n_bpe,
  round(praw, 6) AS punct_ratio,
  round(sraw, 6) AS stop_ratio,
  round(len_score * 0.5 + (1.0 - least(praw * 5.0, 1.0)) * 0.25
        + least(sraw * 10.0, 1.0) * 0.25, 6) AS quality,
  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
FROM q
"""

ORACLES["deterministic_sample_docs"] = """
SELECT doc_id, source FROM documents
WHERE CAST('0x' || substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 8)
           AS BIGINT) % 100 < 20
"""

ORACLES["vocab_topk_docs"] = f"""
WITH d AS (SELECT {_TOKS} AS toks FROM documents),
t AS (SELECT unnest(toks) AS tok FROM d)
SELECT tok, COUNT(*) AS n FROM t GROUP BY tok
ORDER BY n DESC, tok ASC LIMIT 50
"""

# connected components over the LSH pair graph via recursive
# reachability. The chain is a prefix-parameterized generator so
# larger compositions (leakage splits, the v9 build) can embed it
# without CTE-name collisions — the chain exists ONCE.
def _neardup_cluster_chain(p: str = "") -> str:
    """MinHash-LSH pairs → connected components as a CTE chain with
    every name ``p``-prefixed; ends at ``{p}cl`` = (id, cluster_id).
    Must be spliced into a ``WITH RECURSIVE`` clause (``{p}reach``
    is recursive)."""
    buckets = "\nUNION ALL\n".join(
        f"SELECT doc_id, sig, {b} AS band_id, {_band_key(b, 4)} AS band_key"
        f" FROM {p}sigs"
        for b in range(4)
    )
    return f"""
{p}shd AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
{p}shs AS (SELECT doc_id, toks, {_SHINGLES} AS sh FROM {p}shd),
{p}sigs AS (SELECT doc_id, {_sig_list(16)} AS sig FROM {p}shs),
{p}buckets AS ({buckets}),
{p}cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sig AS sig_a, b.sig AS sig_b
  FROM {p}buckets a JOIN {p}buckets b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
{p}pairs AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
      round(list_sum(list_transform(generate_series(1, 16),
        i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) / 16.0, 6)
        AS jaccard
    FROM {p}cand
  ) WHERE jaccard >= 0.3
),
{p}edges AS (
  SELECT id_a AS src, id_b AS dst FROM {p}pairs
  UNION SELECT id_b, id_a FROM {p}pairs
),
{p}reach(a, b) AS (
  SELECT src, src FROM {p}edges
  UNION
  SELECT r.a, e.dst FROM {p}reach r JOIN {p}edges e ON r.b = e.src
),
{p}cl AS (SELECT a AS id, MIN(b) AS cluster_id FROM {p}reach GROUP BY a)
"""


ORACLES["neardup_clusters_docs"] = (
    "WITH RECURSIVE "
    + _neardup_cluster_chain("").strip().lstrip(",")
    + "\nSELECT id, cluster_id FROM cl\n"
)

ORACLES["corpus_curation"] = rf"""
WITH d AS (SELECT doc_id, text, source, {_TOKS} AS toks FROM documents),
m AS (
  SELECT doc_id, text, source,
    {', '.join(f'{_hits(lang)} AS s_{lang}' for lang in sorted(_LANGS))},
    CASE WHEN len(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok,
    CASE WHEN len(text) = 0 THEN 0.0
         ELSE CAST(len(regexp_replace(text, '{_PUNCT}', '', 'g')) AS DOUBLE)
              / len(text) END AS praw
  FROM d
), q AS (
  SELECT *,
    CASE WHEN n_tok = 0 THEN 0.0
         ELSE CAST(s_en AS DOUBLE) / n_tok END AS sraw,
    CASE WHEN len(text) >= 100 AND len(text) <= 4000 THEN 1.0
         WHEN len(text) < 100 THEN CAST(len(text) AS DOUBLE) / 100.0
         ELSE 4000.0 / CAST(len(text) AS DOUBLE) END AS len_score
  FROM m
), scored AS (
  SELECT doc_id, text, source, n_tok,
    {_LANG_CASE} AS lang_pred,
    round(len_score * 0.5 + (1.0 - least(praw * 5.0, 1.0)) * 0.25
          + least(sraw * 10.0, 1.0) * 0.25, 6) AS quality
  FROM q
), kept AS (
  SELECT * FROM scored WHERE lang_pred = 'en' AND quality >= 0.5
), deduped AS (
  SELECT * FROM kept
  QUALIFY doc_id = min(doc_id) OVER (
    PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
)
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
  floor(CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE)
        / COUNT(*) * 10000.0) / 10000.0 AS avg_quality
FROM deduped GROUP BY source
"""

ORACLES["multimodal_meta_docs"] = """
SELECT doc_id AS media_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS digest
FROM documents
"""

ORACLES["frame_sample_docs"] = r"""
WITH d AS (
  SELECT doc_id AS media_id,
         regexp_replace(text, '[^\x20-\x7e]', '', 'g') AS clean
  FROM documents
)
SELECT media_id,
       CAST(unnest(generate_series(0, greatest(len(clean) - 1, 0), 256)) AS BIGINT)
         AS frame_offset,
       md5(substr(clean,
         CAST(unnest(generate_series(0, greatest(len(clean) - 1, 0), 256)) AS INT) + 1,
         256)) AS frame_digest
FROM d
"""

ORACLES["decode_media_docs"] = """
WITH d AS (
  SELECT doc_id AS media_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
              WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         md5(text) AS h,
         octet_length(encode(text)) AS n_bytes
  FROM documents
)
SELECT media_id, kind, n_bytes,
  CASE WHEN kind = 'image'
       THEN 64 + CAST('0x' || substr(h, 1, 2) AS INT) % 192 END AS width,
  CASE WHEN kind = 'image'
       THEN 64 + CAST('0x' || substr(h, 3, 2) AS INT) % 192 END AS height,
  CASE WHEN kind <> 'image'
       THEN 1000 + CAST('0x' || substr(h, 5, 4) AS INT) % 60000 END AS duration_ms
FROM d
"""

ORACLES["cosine_pairs_embeddings"] = f"""
WITH {_EMB}
SELECT id_a, id_b, cosine FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(({_dot('a.v', 'b.v')}), 6) AS cosine
  FROM u a JOIN u b ON a.label = b.label AND a.vec_id < b.vec_id
) WHERE cosine >= 0.25
"""

_QCOS = f"({_dot('q.v', 'c.v')})"  # unit vectors: cosine == dot

ORACLES["ann_topk_bruteforce"] = f"""
WITH {_EMB},
q AS (SELECT vec_id, v FROM u WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_QCOS}, 6) AS cosine
  FROM u c, q WHERE c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


# temperature mixture: n^(3/4) via two exact sqrts, integer-micros
# ratios (alpha deliberately dyadic-friendly - see operator docstring)
ORACLES["temperature_mixture_docs"] = f"""
WITH t AS (
  SELECT source,
         CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
m AS (
  SELECT source, n_tokens,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)
                         * sqrt(CAST(n_tokens AS DOUBLE)))
                    * 1000000.0) AS BIGINT) AS mm
  FROM t
),
tt AS (SELECT CAST(SUM(mm) AS BIGINT) AS total FROM m)
SELECT source, n_tokens,
       CASE WHEN total > 0
            THEN round(CAST(mm AS DOUBLE) / CAST(total AS DOUBLE), 6)
            ELSE 0.0 END AS weight,
       CASE WHEN total > 0
            THEN CAST(1000000 AS BIGINT) * mm // total
            ELSE CAST(0 AS BIGINT) END AS token_quota
FROM m, tt
"""

# UniMax epoch cap: closed-form water-filling in saturation order
# (ORDER BY n_tokens, source — exactly the order of cap/m for α=3/4;
# see quality.unimax_mixture_weights). Exclusive prefix sums feed the
# per-source saturation test, a running AND closes the capped prefix,
# and the uncapped rest splits the remaining budget proportionally.
# All products in DECIMAL(38,0), mirroring Spark expression for
# expression.
def _unimax_quota_chain(
    src: str, p: str = "", budget_ratio: int = 2, max_epochs: int = 2
) -> str:
    """The UniMax closed-form water-filling chain as a reusable,
    prefix-parameterized CTE block: from ``src`` = (source, n_tokens)
    to ``{p}q`` = (source, n_tokens, weight, capped, token_quota).
    Exists once so the standalone rows and the v9 build composition
    cannot fork on the quota arithmetic."""
    return f"""
{p}sc AS (
  SELECT source, n_tokens,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)
                         * sqrt(CAST(n_tokens AS DOUBLE)))
                    * 1000000.0) AS BIGINT) AS mm,
         n_tokens * {max_epochs} AS cap
  FROM {src}
),
{p}tt AS (SELECT CAST(SUM(n_tokens) AS BIGINT) * {budget_ratio} AS b,
              CAST(SUM(CAST(mm AS DECIMAL(38,0))) AS DECIMAL(38,0))
                AS mtot
       FROM {p}sc),
-- the SUMS run in DECIMAL(38,0), not only the products: the micro
-- scores sum past 2^63 at ~1,700 ten-trillion-token sources
{p}g AS (
  SELECT {p}sc.*, {p}tt.b, {p}tt.mtot,
         CAST(coalesce(SUM(CAST(mm AS DECIMAL(38,0))) OVER (
           ORDER BY n_tokens, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS DECIMAL(38,0)) AS cum_m,
         CAST(coalesce(SUM(CAST(cap AS DECIMAL(38,0))) OVER (
           ORDER BY n_tokens, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS DECIMAL(38,0)) AS cum_cap
  FROM {p}sc CROSS JOIN {p}tt
),
{p}f AS (
  SELECT *,
         (CAST(b AS DECIMAL(38,0)) - cum_cap) * CAST(mm AS DECIMAL(38,0))
           >= CAST(cap AS DECIMAL(38,0)) * (mtot - cum_m) AS flag
  FROM {p}g
),
{p}cz AS (
  SELECT *,
         min(CASE WHEN flag THEN 1 ELSE 0 END)
           OVER (ORDER BY n_tokens, source) = 1 AS capped
  FROM {p}f
),
{p}rem AS (
  SELECT CAST(coalesce(SUM(CASE WHEN capped
                            THEN CAST(cap AS DECIMAL(38,0)) END), 0)
           AS DECIMAL(38,0)) AS cap_used,
         CAST(coalesce(SUM(CASE WHEN capped
                            THEN CAST(mm AS DECIMAL(38,0)) END), 0)
           AS DECIMAL(38,0)) AS m_used
  FROM {p}cz
),
{p}q AS (
  SELECT source, n_tokens,
         CASE WHEN mtot > 0
              THEN round(CAST(mm AS DOUBLE) / CAST(mtot AS DOUBLE), 6)
              ELSE 0.0 END AS weight,
         capped,
         CASE WHEN capped THEN cap
              ELSE CAST((CAST(b AS DECIMAL(38,0)) - cap_used)
                        * CAST(mm AS DECIMAL(38,0))
                        // (mtot - m_used)
                        AS BIGINT) END AS token_quota
  FROM {p}cz CROSS JOIN {p}rem
)"""


def _unimax_fill_chain(docs_src: str, quota: str, p: str) -> str:
    """The epoch-fill tail as a reusable CTE block: from ``docs_src``
    = (doc_id, source, n_tok) and ``quota`` = the quota CTE to
    ``{p}copies`` = (doc_id, source, n_tok, n_copies). Docs order per
    source by md5(source|id); inclusive running token totals; copies
    = full epochs + deterministic partial-epoch prefix; zero-token
    docs use the position-robust epoch rule (included in epoch e iff
    e·N + cum ≤ quota AND e·N < quota). All exact integers."""
    return f""",
{p}pd AS (
  SELECT doc_id, source, n_tok,
         md5(source || '|' || CAST(doc_id AS VARCHAR)) AS h
  FROM {docs_src}),
{p}w AS (
  SELECT {p}pd.doc_id AS doc_id, {p}pd.source AS source,
         {p}pd.n_tok AS n_tok,
         CAST(SUM({p}pd.n_tok) OVER (
           PARTITION BY {p}pd.source ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum,
         token_quota, n_tokens AS ns
  FROM {p}pd JOIN {quota} USING (source)),
{p}copies AS (
  SELECT doc_id, source, n_tok,
       CAST(CASE WHEN ns = 0 THEN 0
                 WHEN n_tok = 0 THEN
                   CASE WHEN token_quota >= cum
                        THEN least((token_quota - cum) // ns + 1,
                                   (token_quota + ns - 1) // ns)
                        ELSE 0 END
                 WHEN token_quota >= cum
                 THEN (token_quota - cum) // ns + 1
                 ELSE 0 END AS BIGINT) AS n_copies
  FROM {p}w)
"""


ORACLES["unimax_mixture_docs"] = (
    f"""
WITH t AS (
  SELECT source,
         CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),"""
    + _unimax_quota_chain("t")
    + """
SELECT source, n_tokens, weight, capped, token_quota,
       CASE WHEN n_tokens > 0
            THEN round(CAST(token_quota AS DOUBLE)
                       / CAST(n_tokens AS DOUBLE), 4)
            ELSE 0.0 END AS epochs
FROM q
"""
)

# hard negatives: top-k nearest with a DIFFERENT label (exact form)
ORACLES["hard_negatives_bruteforce"] = f"""
WITH {_EMB},
q AS (SELECT vec_id, label, v FROM u WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_QCOS}, 6) AS cosine
  FROM u c, q WHERE c.label <> q.label
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


def _ivf_sql() -> str:
    planes = lsh_hyperplanes(64, 3)
    bits = " || ".join(
        f"(CASE WHEN ({_dot_lits('rv', p)}) >= 0.0 THEN '1' ELSE '0' END)"
        for p in planes
    )
    return f"""
WITH {_EMB},
blocked AS (SELECT vec_id, v, {bits} AS block FROM u),
q AS (SELECT vec_id, v, block FROM blocked WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_QCOS}, 6) AS cosine
  FROM blocked c JOIN q ON c.block = q.block
  WHERE c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


ORACLES["ann_topk_ivf"] = _ivf_sql()


def _hard_neg_ivf_sql() -> str:
    planes = lsh_hyperplanes(64, 3)
    bits = " || ".join(
        f"(CASE WHEN ({_dot_lits('rv', p)}) >= 0.0 THEN '1' ELSE '0' END)"
        for p in planes
    )
    return f"""
WITH {_EMB},
blocked AS (SELECT vec_id, label, v, {bits} AS block FROM u),
q AS (SELECT vec_id, label, v, block FROM blocked WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_QCOS}, 6) AS cosine
  FROM blocked c JOIN q ON c.block = q.block
  WHERE c.label <> q.label
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


ORACLES["hard_negatives_ivf"] = _hard_neg_ivf_sql()

# recall of the cell-blocked miner vs the exact miner — both sides
# recomputed here so the ledger row is a full independent check
ORACLES["hard_negatives_recall"] = f"""
WITH exact AS ({ORACLES["hard_negatives_bruteforce"]}),
approx AS ({ORACLES["hard_negatives_ivf"]}),
hit AS (
  SELECT e.query_id, COUNT(*) AS hits
  FROM exact e JOIN approx a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.query_id
),
base AS (SELECT query_id, COUNT(*) AS k_exact FROM exact GROUP BY query_id)
SELECT b.query_id, b.k_exact,
       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       round(COALESCE(h.hits, 0) / b.k_exact, 6) AS recall_at_k
FROM base b LEFT JOIN hit h ON b.query_id = h.query_id
"""


def _ivf_probe_sql() -> str:
    planes = lsh_hyperplanes(64, 3)
    bits = [
        f"(CASE WHEN ({_dot_lits('rv', p)}) >= 0.0 THEN '1' ELSE '0' END)"
        for p in planes
    ]
    flip = [f"(CASE WHEN b{i} = '1' THEN '0' ELSE '1' END)" for i in range(3)]
    probes = ", ".join(
        [
            "b0 || b1 || b2",
            f"{flip[0]} || b1 || b2",
            f"b0 || {flip[1]} || b2",
            f"b0 || b1 || {flip[2]}",
        ]
    )
    return f"""
WITH {_EMB},
bl AS (SELECT vec_id, v, {bits[0]} AS b0, {bits[1]} AS b1, {bits[2]} AS b2 FROM u),
c AS (SELECT vec_id, v, b0 || b1 || b2 AS block FROM bl),
q AS (SELECT vec_id, v, unnest([{probes}]) AS probe
      FROM bl WHERE vec_id < 10),
scored AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_QCOS}, 6) AS cosine
  FROM c JOIN q ON c.block = q.probe WHERE c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


ORACLES["ann_topk_ivf_probe"] = _ivf_probe_sql()


def _ann_recall_sql() -> str:
    """recall@5 of the multi-probe IVF vs exact brute force — both
    sides recomputed here so the row is a full independent check."""
    return f"""
WITH exact AS ({ORACLES["ann_topk_bruteforce"]}),
approx AS ({_ivf_probe_sql()}),
hit AS (
  SELECT e.query_id, COUNT(*) AS hits
  FROM exact e JOIN approx a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.query_id
),
base AS (SELECT query_id, COUNT(*) AS k_exact FROM exact GROUP BY query_id)
SELECT b.query_id, b.k_exact,
       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       round(COALESCE(h.hits, 0) / b.k_exact, 6) AS recall_at_k
FROM base b LEFT JOIN hit h ON b.query_id = h.query_id
"""


ORACLES["ann_recall_ivf_probe"] = _ann_recall_sql()


def _pq_chain(vexpr: str, s: int, centroid: list[float], sub: int = 16) -> str:
    """Squared-L2 of subvector s against a literal centroid as an
    explicit left-associated chain — same association as the Spark
    fold in operators.similarity._pq_sub_dist."""
    return " + ".join(
        f"({vexpr}[{s * sub + j + 1}]-({c!r}))*({vexpr}[{s * sub + j + 1}]-({c!r}))"
        for j, c in enumerate(centroid)
    )


def _pq_encode_sql(vec_cte: str, src: str, id_out: str) -> str:
    """(id, c0..c3) PQ-code CTE chain over relation ``src`` holding
    (vec_id, v DOUBLE[]) — md5-derived codebooks identical to
    similarity.pq_codebooks(64, 4, 16); first-position-of-min ties
    match Spark's array_position(arr, array_min(arr))."""
    from farmrpg_etl_spark.operators.similarity import pq_codebooks

    books = pq_codebooks(64, 4, 16)
    lists = ", ".join(
        "["
        + ", ".join(_pq_chain("v", s, books[s][k]) for k in range(16))
        + f"] AS l{s}"
        for s in range(4)
    )
    codes = ", ".join(
        f"CAST(list_position(l{s}, list_min(l{s})) - 1 AS INT) AS c{s}"
        for s in range(4)
    )
    return (
        f"{vec_cte}d AS (SELECT vec_id, {lists} FROM {src}), "
        f"codes AS (SELECT vec_id AS {id_out}, {codes} FROM d)"
    )


ORACLES["pq_encode_embeddings"] = f"""
WITH {_pq_encode_sql(
    'e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), ',
    'e', 'vec_id')}
SELECT * FROM codes
"""


def _pq_adc_sql() -> str:
    from farmrpg_etl_spark.operators.similarity import pq_codebooks

    books = pq_codebooks(64, 4, 16)
    dtable = (
        "["
        + ", ".join(
            _pq_chain("v", s, books[s][c]) for s in range(4) for c in range(16)
        )
        + "]"
    )
    adist = " + ".join(f"dt[{1 + s * 16} + c{s}]" for s in range(4))
    return f"""
WITH {_EMB},
{_pq_encode_sql('', 'u', 'neighbor_id')},
qd AS (SELECT vec_id AS query_id, {dtable} AS dt FROM u WHERE vec_id < 10),
scored AS (
  SELECT query_id, neighbor_id, round({adist}, 6) AS adist
  FROM codes, qd WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, adist, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


ORACLES["ann_topk_pq"] = _pq_adc_sql()


def _pq_rerank_sql(m: int = 8, ks: int = 16, shortlist: int = 200) -> str:
    """Seed-codebook PQ + ADC shortlist + exact cosine rescore —
    the production IVF-PQ+refine architecture, fully relational:
    codebooks are the subvectors of the ``ks`` lowest-id UNIT corpus
    vectors (sample-init training stand-in), distances are explicit
    chains matching the Spark folds, argmin ties break to the lowest
    seed id exactly like Spark's min-of-(dist, k)-structs."""
    sub = 64 // m

    def chain(a: str, b: str, s: int) -> str:
        return " + ".join(
            f"({a}[{s * sub + j + 1}]-{b}[{s * sub + j + 1}])"
            f"*({a}[{s * sub + j + 1}]-{b}[{s * sub + j + 1}])"
            for j in range(sub)
        )

    cd = ", ".join(f"{chain('c.v', 'cb.bv', s)} AS d{s}" for s in range(m))
    qd = ", ".join(f"{chain('q.v', 'cb.bv', s)} AS d{s}" for s in range(m))
    argmins = ", ".join(
        f"CAST(list(k ORDER BY d{s}, k)[1] AS INT) AS c{s}" for s in range(m)
    )
    # tables keyed by raw seed id via list_position — aligned with the
    # codes for ANY corpus id set, not just the contiguous 0..ks-1
    tbls = ", ".join(f"list(d{s} ORDER BY k) AS t{s}" for s in range(m))
    adist = " + ".join(
        f"t{s}[list_position(kk, c{s})]" for s in range(m)
    )
    return f"""
WITH {_EMB},
cb AS (SELECT vec_id AS k, v AS bv FROM u ORDER BY vec_id LIMIT {ks}),
pd AS (SELECT c.vec_id, cb.k, {cd} FROM u c CROSS JOIN cb),
codes AS (SELECT vec_id AS neighbor_id, {argmins} FROM pd GROUP BY vec_id),
qp AS (SELECT q.vec_id AS query_id, cb.k, {qd}
       FROM u q CROSS JOIN cb WHERE q.vec_id < 10),
qt AS (SELECT query_id, list(k ORDER BY k) AS kk, {tbls}
      FROM qp GROUP BY query_id),
sc AS (SELECT query_id, neighbor_id, round({adist}, 6) AS adist
       FROM codes CROSS JOIN qt WHERE neighbor_id <> query_id),
short AS (SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC) AS r
    FROM sc) WHERE r <= {shortlist}),
resc AS (SELECT s.query_id, s.neighbor_id,
         round({_dot('qv.v', 'cv.v')}, 6) AS cosine
         FROM short s
         JOIN u cv ON cv.vec_id = s.neighbor_id
         JOIN u qv ON qv.vec_id = s.query_id)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM resc) WHERE rank <= 5
"""


ORACLES["ann_topk_pq_rerank"] = _pq_rerank_sql()


def _pq_seed_codes_sql(m: int = 8, ks: int = 16) -> str:
    """Full-batch seed-codebook PQ encode — the oracle for streaming
    index maintenance (incremental ≡ batch)."""
    sub = 64 // m

    def chain(a: str, b: str, s: int) -> str:
        return " + ".join(
            f"({a}[{s * sub + j + 1}]-{b}[{s * sub + j + 1}])"
            f"*({a}[{s * sub + j + 1}]-{b}[{s * sub + j + 1}])"
            for j in range(sub)
        )

    cd = ", ".join(f"{chain('c.v', 'cb.bv', s)} AS d{s}" for s in range(m))
    argmins = ", ".join(
        f"CAST(list(k ORDER BY d{s}, k)[1] AS INT) AS c{s}" for s in range(m)
    )
    cols = ", ".join(f"c{s}" for s in range(m))
    return f"""
WITH {_EMB},
cb AS (SELECT vec_id AS k, v AS bv FROM u ORDER BY vec_id LIMIT {ks}),
pd AS (SELECT c.vec_id, cb.k, {cd} FROM u c CROSS JOIN cb),
codes AS (SELECT vec_id, {argmins} FROM pd GROUP BY vec_id)
SELECT vec_id, {cols} FROM codes
"""


ORACLES["streaming_pq_index"] = _pq_seed_codes_sql()


def _ivfpq_sql(n_probe: int = 6, shortlist: int = 200, k: int = 10) -> str:
    """IVF-PQ + refine fully composed: tuned kmeans cells prune, seed-
    codebook ADC scores the probed candidates, exact cosine rescores
    the shortlist. The cell chain mirrors _ann_recall_ivf_tuned_sql;
    the PQ chains mirror _pq_rerank_sql."""
    m, ks, sub = 8, 16, 8
    d2 = " + ".join(
        f"(ev.v[{i}]-cvec[{i}])*(ev.v[{i}]-cvec[{i}])" for i in range(1, 65)
    )

    def chain(a: str, b: str, s: int) -> str:
        return " + ".join(
            f"({a}[{s * sub + j + 1}]-{b}[{s * sub + j + 1}])"
            f"*({a}[{s * sub + j + 1}]-{b}[{s * sub + j + 1}])"
            for j in range(sub)
        )

    cd = ", ".join(f"{chain('c.v', 'cb.bv', s)} AS d{s}" for s in range(m))
    qd = ", ".join(f"{chain('q.v', 'cb.bv', s)} AS d{s}" for s in range(m))
    argmins = ", ".join(
        f"CAST(list(k ORDER BY d{s}, k)[1] AS INT) AS c{s}" for s in range(m)
    )
    # tables keyed by raw seed id via list_position — aligned with the
    # codes for ANY corpus id set, not just the contiguous 0..ks-1
    tbls = ", ".join(f"list(d{s} ORDER BY k) AS t{s}" for s in range(m))
    adist = " + ".join(
        f"t{s}[list_position(kk, c{s})]" for s in range(m)
    )
    return f"""
WITH {_EMB},
g AS (SELECT unnest(generate_series(1, 64)) AS i),
x AS (
  SELECT label, g.i - 1 AS pos,
         floor(CAST(embedding[g.i] AS DOUBLE) * 1000000.0) / 1000000.0 AS qv
  FROM embeddings CROSS JOIN g
), cl AS (
  SELECT label, pos,
         CAST(SUM(CAST(qv AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS centroid
  FROM x GROUP BY label, pos
), cv AS (
  SELECT label, list(centroid ORDER BY pos ASC) AS cvec FROM cl GROUP BY label
), ev AS (SELECT vec_id, v FROM e),
sc AS (SELECT ev.vec_id, cv.label, {d2} AS d2 FROM ev CROSS JOIN cv),
rk AS (
  SELECT vec_id, label,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY d2 ASC, label ASC) AS rn
  FROM sc
), asg AS (SELECT vec_id, label AS block FROM rk WHERE rn = 1),
cb AS (SELECT vec_id AS k, v AS bv FROM u ORDER BY vec_id LIMIT {ks}),
pd AS (SELECT c.vec_id, cb.k, {cd} FROM u c CROSS JOIN cb),
codes AS (SELECT vec_id, {argmins} FROM pd GROUP BY vec_id),
corp AS (
  SELECT codes.vec_id AS neighbor_id, asg.block,
         {', '.join(f'c{s}' for s in range(m))}
  FROM codes JOIN asg ON codes.vec_id = asg.vec_id
),
qp AS (SELECT q.vec_id AS query_id, cb.k, {qd}
       FROM u q CROSS JOIN cb WHERE q.vec_id < 10),
qt AS (SELECT query_id, list(k ORDER BY k) AS kk, {tbls}
      FROM qp GROUP BY query_id),
probes AS (SELECT vec_id AS query_id, label AS block FROM rk
           WHERE vec_id < 10 AND rn <= {n_probe}),
adc AS (
  SELECT probes.query_id, corp.neighbor_id, round({adist}, 6) AS adist
  FROM corp JOIN probes ON corp.block = probes.block
  JOIN qt ON qt.query_id = probes.query_id
  WHERE corp.neighbor_id <> probes.query_id
),
short AS (SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC) AS r
    FROM adc) WHERE r <= {shortlist}),
resc AS (SELECT s.query_id, s.neighbor_id,
         round({_dot('qv.v', 'cv2.v')}, 6) AS cosine
         FROM short s
         JOIN u cv2 ON cv2.vec_id = s.neighbor_id
         JOIN u qv ON qv.vec_id = s.query_id)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM resc) WHERE rank <= {k}
"""


ORACLES["ann_topk_ivfpq"] = _ivfpq_sql()

ORACLES["ann_recall_ivfpq"] = f"""
WITH exact AS (
{ORACLES["ann_topk_bruteforce"].replace(") WHERE rank <= 5", ") WHERE rank <= 10")}
),
approx AS ({_ivfpq_sql()}),
hit AS (
  SELECT e.query_id, COUNT(*) AS hits
  FROM exact e JOIN approx a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.query_id
),
base AS (SELECT query_id, COUNT(*) AS k_exact FROM exact GROUP BY query_id)
SELECT b.query_id, b.k_exact,
       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       round(COALESCE(h.hits, 0) / b.k_exact, 6) AS recall_at_k
FROM base b LEFT JOIN hit h ON b.query_id = h.query_id
"""

# SCD2 oracle = the one-shot batch recompute: dedup ties, CDC changes
# per user, LEAD closes each version — incremental == batch is the row
ORACLES["k_scd2_sink"] = """
WITH o AS (
  SELECT user_id, ts, event_type FROM (
    SELECT user_id, ts, event_type,
           row_number() OVER (PARTITION BY user_id, ts
                              ORDER BY event_id ASC) AS rn
    FROM events) WHERE rn = 1
),
ch AS (
  SELECT user_id, ts, event_type FROM (
    SELECT user_id, ts, event_type,
           lag(event_type) OVER w AS p, lag(ts) OVER w AS pts
    FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
  ) WHERE pts IS NULL OR event_type <> p
)
SELECT user_id, event_type, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts ASC) AS valid_to
FROM ch
"""

ORACLES["skew_profile_events"] = """
WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id)
SELECT length(bin(cnt)) - 1 AS bucket,
       COUNT(*) AS n_keys,
       CAST(SUM(cnt) AS BIGINT) AS n_rows
FROM c GROUP BY 1
"""

ORACLES["k_change_feed_sink"] = """
WITH s0 AS (SELECT event_id, event_type, value FROM events
            WHERE event_id % 3 = 0),
su AS (SELECT event_id, event_type,
       CASE WHEN event_id % 5 = 0 THEN value + 100.0 ELSE value END AS value
       FROM s0),
sd AS (SELECT * FROM su WHERE event_id % 7 <> 0),
s3 AS (SELECT * FROM sd UNION ALL
       SELECT event_id, event_type, value FROM events
       WHERE event_id % 3 = 1 AND event_id % 5 = 0),
j AS (SELECT coalesce(a.event_id, b.event_id) AS event_id,
      a.event_type AS at, a.value AS av, b.event_type AS bt, b.value AS bv,
      a.event_id IS NOT NULL AS ina, b.event_id IS NOT NULL AS inb
      FROM s0 a FULL OUTER JOIN s3 b ON a.event_id = b.event_id)
SELECT 'insert' AS _change_type, event_id, bt AS event_type, bv AS value
FROM j WHERE NOT ina
UNION ALL
SELECT 'delete', event_id, at, av FROM j WHERE NOT inb
UNION ALL
SELECT 'update_preimage', event_id, at, av FROM j
WHERE ina AND inb AND (at <> bt OR av <> bv)
UNION ALL
SELECT 'update_postimage', event_id, bt, bv FROM j
WHERE ina AND inb AND (at <> bt OR av <> bv)
"""

ORACLES["ann_recall_pq_rerank"] = f"""
WITH exact AS ({ORACLES["ann_topk_bruteforce"]}),
approx AS ({_pq_rerank_sql()}),
hit AS (
  SELECT e.query_id, COUNT(*) AS hits
  FROM exact e JOIN approx a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.query_id
),
base AS (SELECT query_id, COUNT(*) AS k_exact FROM exact GROUP BY query_id)
SELECT b.query_id, b.k_exact,
       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       round(COALESCE(h.hits, 0) / b.k_exact, 6) AS recall_at_k
FROM base b LEFT JOIN hit h ON b.query_id = h.query_id
"""

# --------------------------------------------------------------------------
# parse round-trip: recompute what the chat parser must produce for the
# generated payloads (fetch wall-time 2024-06-01 07:00:00 Chicago; AM
# times past it roll to the previous day; Chicago → UTC)
# --------------------------------------------------------------------------

ORACLES["parse_chat_roundtrip"] = """
WITH d AS (
  SELECT doc_id,
         make_timestamp(2024, 6, 1,
           CAST(doc_id % 11 + 1 AS INT),
           CAST(doc_id % 60 AS INT),
           CAST(doc_id * 7 % 60 AS DOUBLE)) AS wall,
         source AS username,
         regexp_replace(substr(text, 1, 40), '[<>&]', '', 'g') AS content,
         (doc_id % 5 = 0) AS deleted
  FROM documents
), r AS (
  SELECT *, CASE WHEN wall > TIMESTAMP '2024-06-01 07:00:00'
                 THEN wall - INTERVAL 1 DAY ELSE wall END AS rolled
  FROM d
)
SELECT 'help' AS room,
       CAST(doc_id AS VARCHAR) AS id,
       timezone('UTC', timezone('America/Chicago', rolled)) AS ts,
       'e.png' AS emblem,
       username, content, deleted
FROM r
"""

ORACLES["parse_flags_roundtrip"] = """
WITH d AS (
  SELECT doc_id,
         CAST(doc_id % 11 + 1 AS INT) AS h,
         CAST(doc_id % 60 AS INT) AS mi,
         CAST(doc_id * 7 % 60 AS INT) AS s,
         source AS username,
         'x' || regexp_replace(substr(text, 1, 30), '[^A-Za-z0-9]', '', 'g')
           AS content,
         CAST(doc_id % 7 + 1 AS INT) AS flags
  FROM documents
), p AS (
  SELECT *,
    'Apr 17, ' || lpad(CAST(h AS VARCHAR), 2, '0') || ':'
      || lpad(CAST(mi AS VARCHAR), 2, '0') || ':'
      || lpad(CAST(s AS VARCHAR), 2, '0') || ' AM' AS ts_str
  FROM d
)
SELECT 'help' AS room,
       md5(ts_str || chr(31) || username || chr(31) || '- ' || content) AS id,
       timezone('UTC', timezone('America/Chicago',
         make_timestamp(2024, 4, 17, h, mi, CAST(s AS DOUBLE)))) AS ts,
       username, content, flags
FROM p
"""

# --------------------------------------------------------------------------
# streaming (deterministic on this data: event_id unique, (user_id, ts)
# unique → streaming results equal their batch analogs)
# --------------------------------------------------------------------------

ORACLES["streaming_dedup_events"] = """
SELECT event_id, user_id, event_type FROM events
"""

ORACLES["streaming_latest_per_user"] = """
SELECT user_id, ts, event_id, event_type FROM (
  SELECT user_id, ts, event_id, event_type,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""

ORACLES["streaming_cdc_events"] = _D1_CHANGES

# batch message-CDC SQL plus the query's constant columns
# transformWithStateInPandas backend of the same CDC — SAME oracle by
# construction (cross-backend equivalence is the point of the row);
# assigned after the legacy oracle's definition below.
_STREAMING_CDC_TWS_ALIAS = "streaming_message_cdc"

ORACLES["streaming_message_cdc"] = """
WITH base AS (
  SELECT 'r' AS room, CAST(user_id AS VARCHAR) AS id, ts AS obs_ts,
         props AS content, (event_type = 'error') AS deleted
  FROM events
), st AS (
  SELECT *, CASE WHEN deleted AND NOT lag(deleted) OVER w
                 THEN obs_ts END AS flip_ts
  FROM base WINDOW w AS (PARTITION BY room, id ORDER BY obs_ts ASC)
), stamped AS (
  SELECT room, id, obs_ts, content, deleted,
    last_value(flip_ts IGNORE NULLS) OVER (
      PARTITION BY room, id ORDER BY obs_ts ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS deleted_ts
  FROM st
)
SELECT room, id, obs_ts,
       TIMESTAMP '2024-01-01 00:00:00' AS ts, 'u' AS username,
       content, 0 AS flags, deleted, deleted_ts
FROM (
  SELECT *, lag(content) OVER w AS pc, lag(deleted) OVER w AS pd,
         lag(obs_ts) OVER w AS pts
  FROM stamped
  WINDOW w AS (PARTITION BY room, id ORDER BY obs_ts ASC)
) WHERE pts IS NULL OR content IS DISTINCT FROM pc OR deleted IS DISTINCT FROM pd
"""

ORACLES["streaming_cdc_tws"] = ORACLES[_STREAMING_CDC_TWS_ALIAS]


# --------------------------------------------------------------------------
# TPC-H subquery/semi/anti shapes
# --------------------------------------------------------------------------

ORACLES["q5_local_supplier_volume"] = f"""
SELECT n_name, {_money("l_extendedprice * (1 - l_discount)")} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""

ORACLES["q12_shipmode_priority"] = """
SELECT l_linestatus,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
       THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate <  TIMESTAMP '1996-01-01'
  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
GROUP BY l_linestatus
"""

ORACLES["q4_order_priority"] = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-07-01'
  AND o_orderdate < TIMESTAMP '1995-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""

ORACLES["q13_customer_distribution"] = """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                  AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust GROUP BY c_count
"""

ORACLES["q18_large_volume_orders"] = """
WITH qty AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
)
SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice, total_qty
FROM qty JOIN orders ON l_orderkey = o_orderkey
WHERE total_qty > 150.0
"""

ORACLES["q22_idle_balances"] = f"""
WITH a AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
         AS avg_bal
  FROM customer WHERE c_acctbal > 0
)
SELECT n_name, COUNT(*) AS numcust, {_money('c_acctbal')} AS totacctbal
FROM customer CROSS JOIN a
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY n_name
"""

ORACLES["q7_volume_shipping"] = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       {_money('l_extendedprice * (1 - l_discount)')} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
"""

ORACLES["q8_market_share"] = """
SELECT year(o_orderdate) AS o_year,
       floor((CAST(SUM(CAST(CASE WHEN ns.n_name = 'NATION_3'
                                 THEN l_extendedprice * (1 - l_discount)
                                 ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
              / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18,6))) AS DOUBLE)
              * 1000000.0)) / 1000000.0 AS mkt_share,
       COUNT(*) AS n_items
FROM lineitem
JOIN part     ON l_partkey = p_partkey AND p_type = 'PROMO'
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n ON c_nationkey = n.n_nationkey
JOIN region   ON n.n_regionkey = r_regionkey AND r_name = 'EUROPE'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
GROUP BY year(o_orderdate)
"""

ORACLES["q9_profit_by_nation_year"] = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       CAST(round(SUM(CAST(floor((l_extendedprice * (1 - l_discount)
                                  - p_retailprice * l_quantity * 0.1)
                                 * 1000000.0) / 1000000.0
                           AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_profit,
       COUNT(*) AS n_items
FROM lineitem
JOIN part     ON l_partkey = p_partkey AND p_name LIKE '%widget%'
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY n_name, year(o_orderdate)
"""

ORACLES["q10_returned_items"] = f"""
SELECT c_custkey, c_name, n_name, c_acctbal,
       {_money('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1995-07-01'
  AND o_orderdate < TIMESTAMP '1995-10-01'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""

ORACLES["q15_top_supplier"] = f"""
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         {_money('l_extendedprice * (1 - l_discount)')} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
), m AS (SELECT MAX(total_revenue) AS max_revenue FROM rev)
SELECT s_suppkey, s_name, total_revenue
FROM rev CROSS JOIN m
JOIN supplier ON supplier_no = s_suppkey
WHERE total_revenue = max_revenue
"""

ORACLES["q17_small_quantity_revenue"] = """
WITH li AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#1' AND p_size < 10
), thresh AS (
  SELECT l_partkey AS t_partkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
           / COUNT(*) * 0.2 AS qty_threshold
  FROM li GROUP BY l_partkey
)
SELECT floor(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
             / 7.0 * 10000.0) / 10000.0 AS avg_yearly,
       COUNT(*) AS n_items
FROM li JOIN thresh ON l_partkey = t_partkey
WHERE l_quantity < qty_threshold
"""

ORACLES["q19_disjunctive_revenue"] = f"""
SELECT {_money('l_extendedprice * (1 - l_discount)')} AS revenue,
       COUNT(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""

ORACLES["q21_waiting_suppliers"] = """
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND date_diff('day', o_orderdate, l_shipdate) > 100
)
SELECT s_name, COUNT(*) AS numwait
FROM late l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 100
"""

# --------------------------------------------------------------------------
# temporal joins — the oracle runs the naive inequality-join formulation
# the Spark operators exist to avoid
# --------------------------------------------------------------------------

ORACLES["asof_click_attribution"] = """
WITH p AS (
  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
), j AS (
  SELECT p.user_id, p.purchase_id, p.purchase_ts, c.click_id, c.click_ts,
         row_number() OVER (PARTITION BY p.purchase_id
                            ORDER BY c.click_ts DESC, c.click_id DESC) AS rn
  FROM p LEFT JOIN c ON p.user_id = c.user_id
                    AND c.click_ts <= p.purchase_ts
)
SELECT user_id, purchase_id, purchase_ts, click_id, click_ts,
       epoch_us(purchase_ts) - epoch_us(click_ts) AS gap_us
FROM j WHERE rn = 1
"""

ORACLES["range_join_prior_events"] = """
WITH p AS (
  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT purchase_id, COUNT(*) AS n_prior_1h
  FROM p JOIN events e
    ON p.user_id = e.user_id
   AND e.ts >= p.purchase_ts - INTERVAL 3600 SECONDS
   AND e.ts < p.purchase_ts
  GROUP BY purchase_id
)
SELECT p.user_id, p.purchase_id, p.purchase_ts,
       coalesce(c.n_prior_1h, 0) AS n_prior_1h
FROM p LEFT JOIN c USING (purchase_id)
"""

# --------------------------------------------------------------------------
# TF-IDF (rational BM25-style idf — no transcendental ulp risk)
# --------------------------------------------------------------------------

ORACLES["tfidf_top_terms"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), nd AS (
  SELECT COUNT(*) AS n_docs FROM documents
), s AS (
  SELECT doc_id, term, tf, df,
         CAST(tf AS DOUBLE) * ((n_docs - df + 0.5) / (df + 0.5)) AS score
  FROM tf JOIN df USING (term) CROSS JOIN nd
)
SELECT doc_id, term, tf, df, score, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS rn
  FROM s
) WHERE rn <= 3
"""


# --------------------------------------------------------------------------
# chunking / PII / semi-structured extraction
# --------------------------------------------------------------------------

ORACLES["chunk_documents"] = f"""
WITH base AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), sized AS (
  SELECT doc_id, toks, len(toks) AS n FROM base
), e AS (
  SELECT doc_id, toks,
         unnest(generate_series(
           0, CAST((greatest(n - 32, 0) + 23) // 24 AS INT))) AS chunk_id
  FROM sized
)
SELECT doc_id, chunk_id,
       len(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32]) AS n_chunk_tokens,
       array_to_string(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ')
         AS chunk
FROM e
"""

ORACLES["pii_redaction"] = """
WITH raw AS (
  SELECT doc_id,
    'contact u' || CAST(doc_id AS VARCHAR) || '@example.com'
    || CASE WHEN doc_id % 2 = 0 THEN ' call +1 555-123-4567' ELSE '' END
    || CASE WHEN doc_id % 3 = 0 THEN ' token deadbeefcafebabe1234' ELSE '' END
    || ' | ' || substr(text, 1, 80) AS t
  FROM documents
)
SELECT doc_id,
  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
  + len(regexp_extract_all(t, '\\+?\\d{3}[-. ]\\d{3}[-. ]\\d{4}'))
  + len(regexp_extract_all(t, '\\b[0-9a-f]{16,}\\b')) AS n_pii,
  regexp_replace(
    regexp_replace(
      regexp_replace(t,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\\+?\\d{3}[-. ]\\d{3}[-. ]\\d{4}', '<PHONE>', 'g'),
    '\\b[0-9a-f]{16,}\\b', '<ID>', 'g') AS redacted
FROM raw
"""

ORACLES["json_props_stats"] = """
SELECT event_type, COUNT(*) AS n,
       MIN(k) AS min_k, MAX(k) AS max_k,
       -- CAST: DuckDB SUM(BIGINT) -> HUGEINT, which degrades to DOUBLE
       -- through an Arrow fetch (99111.0 vs Spark's 99111 -> hash
       -- mismatch in the driver's compare; r5 VERDICT item #2).
       CAST(SUM(k) AS BIGINT) AS sum_k
FROM (SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events)
GROUP BY event_type
"""


# streaming session_window: [first, last+gap) windows, >= gap starts new
# TWS timer sessionization: µs-exact lag splitting; each user's LAST
# session is emitted only by its event-time timer, whose predicate is
# ms-quantized exactly as Spark quantizes timers/watermarks:
# ceil_ms(last+gap) <= floor_ms(global max ts). Earlier sessions are
# closed inline by their successor event and always emit.
ORACLES["streaming_session_timeout"] = """
WITH g AS (
  SELECT user_id, ts, event_id,
         epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), s AS (
  SELECT *, CASE WHEN gap_us IS NULL OR gap_us >= 1800000000
                 THEN 1 ELSE 0 END AS ns
  FROM g
), sid AS (
  SELECT *, SUM(ns) OVER (
    PARTITION BY user_id ORDER BY ts ASC, event_id ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM s
), a AS (
  SELECT user_id, session_id,
         MIN(ts) AS session_start,
         MAX(ts) + INTERVAL 30 MINUTE AS session_end,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         MAX(epoch_us(ts)) + 1800000000 AS end_us
  FROM sid GROUP BY user_id, session_id
), m AS (
  SELECT user_id, MAX(session_id) AS max_sid FROM a GROUP BY user_id
)
SELECT a.user_id, a.session_start, a.session_end, a.n_events
FROM a JOIN m USING (user_id)
WHERE a.session_id < m.max_sid
   OR (a.end_us + 999) // 1000
      <= (SELECT max(epoch_us(ts)) FROM events) // 1000
"""

ORACLES["streaming_tws_first_seen"] = """
SELECT DISTINCT user_id, event_type FROM events
"""

ORACLES["streaming_tws_running_counts"] = """
SELECT user_id, event_type,
       CAST(unnest(generate_series(1, c)) AS BIGINT) AS n
FROM (SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY user_id, event_type)
"""

ORACLES["streaming_sessionize"] = """
WITH g AS (
  SELECT user_id, ts,
         epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), s AS (
  SELECT *, CASE WHEN gap_us IS NULL OR gap_us >= 1800000000
                 THEN 1 ELSE 0 END AS ns
  FROM g
), sid AS (
  SELECT *, SUM(ns) OVER (
    PARTITION BY user_id ORDER BY ts ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM s
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM sid GROUP BY user_id, session_id
"""


# per-label centroids: 6-decimal per-row quantization -> exact decimal mean
ORACLES["embedding_centroids"] = """
WITH g AS (SELECT unnest(generate_series(1, 64)) AS i),
x AS (
  SELECT label, g.i - 1 AS pos,
         floor(CAST(embedding[g.i] AS DOUBLE) * 1000000.0) / 1000000.0 AS q
  FROM embeddings CROSS JOIN g
)
SELECT label, pos,
       CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS centroid,
       COUNT(*) AS n_vecs
FROM x GROUP BY label, pos
"""


# k-means E-step: nearest quantized centroid by squared L2 (explicit
# left-associated term chain == Spark's aggregate fold)
ORACLES["kmeans_assign_embeddings"] = """
WITH g AS (SELECT unnest(generate_series(1, 64)) AS i),
x AS (
  SELECT label, g.i - 1 AS pos,
         floor(CAST(embedding[g.i] AS DOUBLE) * 1000000.0) / 1000000.0 AS q
  FROM embeddings CROSS JOIN g
), cl AS (
  SELECT label, pos,
         CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS centroid
  FROM x GROUP BY label, pos
), cv AS (
  SELECT label, list(centroid ORDER BY pos ASC) AS cvec FROM cl GROUP BY label
), ev AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), sc AS (
  SELECT vec_id, label,
         (v[1]-cvec[1])*(v[1]-cvec[1]) + (v[2]-cvec[2])*(v[2]-cvec[2]) + (v[3]-cvec[3])*(v[3]-cvec[3]) + (v[4]-cvec[4])*(v[4]-cvec[4]) + (v[5]-cvec[5])*(v[5]-cvec[5]) + (v[6]-cvec[6])*(v[6]-cvec[6]) + (v[7]-cvec[7])*(v[7]-cvec[7]) + (v[8]-cvec[8])*(v[8]-cvec[8]) + (v[9]-cvec[9])*(v[9]-cvec[9]) + (v[10]-cvec[10])*(v[10]-cvec[10]) + (v[11]-cvec[11])*(v[11]-cvec[11]) + (v[12]-cvec[12])*(v[12]-cvec[12]) + (v[13]-cvec[13])*(v[13]-cvec[13]) + (v[14]-cvec[14])*(v[14]-cvec[14]) + (v[15]-cvec[15])*(v[15]-cvec[15]) + (v[16]-cvec[16])*(v[16]-cvec[16]) + (v[17]-cvec[17])*(v[17]-cvec[17]) + (v[18]-cvec[18])*(v[18]-cvec[18]) + (v[19]-cvec[19])*(v[19]-cvec[19]) + (v[20]-cvec[20])*(v[20]-cvec[20]) + (v[21]-cvec[21])*(v[21]-cvec[21]) + (v[22]-cvec[22])*(v[22]-cvec[22]) + (v[23]-cvec[23])*(v[23]-cvec[23]) + (v[24]-cvec[24])*(v[24]-cvec[24]) + (v[25]-cvec[25])*(v[25]-cvec[25]) + (v[26]-cvec[26])*(v[26]-cvec[26]) + (v[27]-cvec[27])*(v[27]-cvec[27]) + (v[28]-cvec[28])*(v[28]-cvec[28]) + (v[29]-cvec[29])*(v[29]-cvec[29]) + (v[30]-cvec[30])*(v[30]-cvec[30]) + (v[31]-cvec[31])*(v[31]-cvec[31]) + (v[32]-cvec[32])*(v[32]-cvec[32]) + (v[33]-cvec[33])*(v[33]-cvec[33]) + (v[34]-cvec[34])*(v[34]-cvec[34]) + (v[35]-cvec[35])*(v[35]-cvec[35]) + (v[36]-cvec[36])*(v[36]-cvec[36]) + (v[37]-cvec[37])*(v[37]-cvec[37]) + (v[38]-cvec[38])*(v[38]-cvec[38]) + (v[39]-cvec[39])*(v[39]-cvec[39]) + (v[40]-cvec[40])*(v[40]-cvec[40]) + (v[41]-cvec[41])*(v[41]-cvec[41]) + (v[42]-cvec[42])*(v[42]-cvec[42]) + (v[43]-cvec[43])*(v[43]-cvec[43]) + (v[44]-cvec[44])*(v[44]-cvec[44]) + (v[45]-cvec[45])*(v[45]-cvec[45]) + (v[46]-cvec[46])*(v[46]-cvec[46]) + (v[47]-cvec[47])*(v[47]-cvec[47]) + (v[48]-cvec[48])*(v[48]-cvec[48]) + (v[49]-cvec[49])*(v[49]-cvec[49]) + (v[50]-cvec[50])*(v[50]-cvec[50]) + (v[51]-cvec[51])*(v[51]-cvec[51]) + (v[52]-cvec[52])*(v[52]-cvec[52]) + (v[53]-cvec[53])*(v[53]-cvec[53]) + (v[54]-cvec[54])*(v[54]-cvec[54]) + (v[55]-cvec[55])*(v[55]-cvec[55]) + (v[56]-cvec[56])*(v[56]-cvec[56]) + (v[57]-cvec[57])*(v[57]-cvec[57]) + (v[58]-cvec[58])*(v[58]-cvec[58]) + (v[59]-cvec[59])*(v[59]-cvec[59]) + (v[60]-cvec[60])*(v[60]-cvec[60]) + (v[61]-cvec[61])*(v[61]-cvec[61]) + (v[62]-cvec[62])*(v[62]-cvec[62]) + (v[63]-cvec[63])*(v[63]-cvec[63]) + (v[64]-cvec[64])*(v[64]-cvec[64]) AS d2
  FROM ev CROSS JOIN cv
)
SELECT vec_id, label AS assigned_label,
       floor(d2 * 1000000.0) / 1000000.0 AS dist2
FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY d2 ASC, label ASC) AS rn
  FROM sc
) WHERE rn = 1
"""


ORACLES["cluster_quota_sample_embeddings"] = f"""
WITH asg AS ({ORACLES["kmeans_assign_embeddings"]}),
a AS (SELECT vec_id, CAST(assigned_label AS VARCHAR) AS cluster FROM asg)
SELECT vec_id, cluster, sample_rank FROM (
  SELECT vec_id, cluster,
         row_number() OVER (
           PARTITION BY cluster
           ORDER BY md5(cluster || '|' || CAST(vec_id AS VARCHAR)) ASC,
                    vec_id ASC
         ) AS sample_rank
  FROM a
) WHERE sample_rank <= 150
"""

ORACLES["stratified_sample_docs"] = """
SELECT doc_id, source FROM documents
WHERE CAST('0x' || substr(md5('strat|' || CAST(doc_id AS VARCHAR)), 1, 8)
           AS BIGINT) % 100
      < CASE WHEN source = 'src0' THEN 80
             WHEN source = 'src1' THEN 10
             WHEN source = 'src2' THEN 50
             ELSE 20 END
"""

ORACLES["cube_revenue"] = f"""
SELECT r_name, n_name,
  COUNT(*) AS n_customers,
  {_money('c_acctbal')} AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY CUBE(r_name, n_name)
"""


# time-RANGE window frame (trailing hour, inclusive), exact decimal sum
ORACLES["trailing_1h_sum_events"] = """
SELECT event_id, user_id, ts,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h,
  COUNT(*) OVER w AS n_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


# --------------------------------------------------------------------------
# corpus-quality operators (decontamination, repetition) and the
# hypertable-style hierarchical rollup
# --------------------------------------------------------------------------

ORACLES["decontaminate_docs"] = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(toks) >= 13
                THEN list_transform(generate_series(1, len(toks) - 12),
                                    i -> array_to_string(toks[i:i+12], ' '))
                ELSE CAST([] AS VARCHAR[]) END)) AS gram
  FROM d
),
ev AS (SELECT DISTINCT gram FROM g WHERE doc_id < 250)
SELECT doc_id, COUNT(*) AS n_contaminated_ngrams
FROM g JOIN ev USING (gram)
WHERE doc_id >= 250
GROUP BY doc_id
"""

ORACLES["repetition_docs"] = f"""
WITH d0 AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
d AS (SELECT doc_id, text, {_TOKS} AS toks FROM d0),
base AS (SELECT doc_id, length(text) AS n_chars FROM d),
pt AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         COUNT(*) AS n_distinct_tokens
  FROM (SELECT doc_id, tok, COUNT(*) AS cnt
        FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
        GROUP BY doc_id, tok)
  GROUP BY doc_id
),
g0 AS (
  SELECT doc_id, gram, COUNT(*) AS cnt
  FROM (SELECT doc_id,
               unnest(CASE WHEN len(toks) >= 2
                           THEN list_transform(generate_series(1, len(toks) - 1),
                                               i -> array_to_string(toks[i:i+1], ' '))
                           ELSE CAST([] AS VARCHAR[]) END) AS gram
        FROM d)
  GROUP BY doc_id, gram
),
pg AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_2grams,
         COUNT(*) AS n_distinct_2grams
  FROM g0 GROUP BY doc_id
),
top AS (
  SELECT doc_id, gram AS top_2gram, cnt AS top_cnt
  FROM (SELECT doc_id, gram, cnt,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, gram DESC) AS rn
        FROM g0)
  WHERE rn = 1
)
SELECT base.doc_id,
  coalesce(n_tokens, 0) AS n_tokens,
  CASE WHEN n_tokens > 0 THEN
    floor(CAST(n_tokens - n_distinct_tokens AS DOUBLE)
          / CAST(n_tokens AS DOUBLE) * 1000000.0) / 1000000.0
  END AS dup_word_frac,
  CASE WHEN n_2grams > 0 THEN
    floor(CAST(n_2grams - n_distinct_2grams AS DOUBLE)
          / CAST(n_2grams AS DOUBLE) * 1000000.0) / 1000000.0
  END AS dup_2gram_frac,
  top_2gram,
  CASE WHEN n_chars > 0 THEN
    floor(CAST(top_cnt * length(top_2gram) AS DOUBLE)
          / CAST(n_chars AS DOUBLE) * 1000000.0) / 1000000.0
  END AS top_2gram_char_frac
FROM base
LEFT JOIN pt USING (doc_id)
LEFT JOIN pg USING (doc_id)
LEFT JOIN top USING (doc_id)
"""

ORACLES["hourly_rollup_events"] = """
SELECT date_trunc('hour', ts) AS bucket, event_type,
  COUNT(*) AS n_rows,
  CAST(round(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value,
  MIN(value) AS min_value,
  MAX(value) AS max_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""

ORACLES["streaming_windowed_counts"] = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
  COUNT(*) AS n_events,
  CAST(round(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
FROM events
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
      <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
GROUP BY date_trunc('hour', ts), event_type
"""

# chained dedup → windowed agg: dedup of the self-union restores the
# distinct events, so the oracle is the same closed-window batch count
ORACLES["streaming_chained_stateful"] = ORACLES["streaming_windowed_counts"]

ORACLES["streaming_enriched_counts"] = """
SELECT c_mktsegment, event_type, COUNT(*) AS n_events
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment, event_type
"""


# --------------------------------------------------------------------------
# derived-partsupp TPC-H shapes (Q2/Q11/Q16/Q20) — the ps CTE rebuilds
# queries._derived_partsupp with identical integer arithmetic
# --------------------------------------------------------------------------

_PS = """
  SELECT p_partkey AS ps_partkey, s_suppkey AS ps_suppkey,
         (p_partkey * 7 + s_suppkey * 13) % 1000 + 1 AS ps_availqty,
         CAST((p_partkey * 11 + s_suppkey * 17) % 9000 AS DOUBLE) / 100.0
           + 10.0 AS ps_supplycost
  FROM part JOIN supplier ON p_partkey % 25 = s_suppkey % 25
"""

ORACLES["q2_min_cost_supplier"] = f"""
WITH ps AS ({_PS}),
reg AS (
  SELECT ps_partkey, ps_supplycost, s_acctbal, s_name, n_name
  FROM ps
  JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
),
q AS (
  SELECT reg.* FROM reg
  JOIN part ON ps_partkey = p_partkey
           AND p_size < 10 AND p_type = 'LARGE'
),
m AS (SELECT ps_partkey AS m_partkey, MIN(ps_supplycost) AS min_cost
      FROM q GROUP BY ps_partkey)
SELECT s_acctbal, s_name, n_name, ps_partkey, ps_supplycost
FROM q JOIN m ON ps_partkey = m_partkey AND ps_supplycost = min_cost
ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, ps_partkey ASC
LIMIT 100
"""

ORACLES["q11_important_stock"] = f"""
WITH ps AS ({_PS}),
base AS (
  SELECT ps_partkey, ps_supplycost * ps_availqty AS value
  FROM ps
  JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
),
total AS (
  SELECT CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) * 0.01
         AS threshold
  FROM base
)
SELECT ps_partkey, {_money('value')} AS value
FROM base CROSS JOIN total
GROUP BY ps_partkey, threshold
HAVING {_money('value')} > threshold
"""

ORACLES["q16_supplier_count"] = f"""
WITH ps AS ({_PS})
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT ps_suppkey) AS supplier_cnt
FROM ps
JOIN part ON ps_partkey = p_partkey
WHERE p_brand <> 'Brand#5' AND p_size <= 20
  AND NOT EXISTS (SELECT 1 FROM supplier
                  WHERE s_suppkey = ps_suppkey AND s_suppkey % 7 = 0)
GROUP BY p_brand, p_type, p_size
"""

ORACLES["q20_excess_inventory_suppliers"] = f"""
WITH ps AS ({_PS}),
shipped AS (
  SELECT l_partkey AS sh_partkey, l_suppkey AS sh_suppkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) * 0.5
           AS half_qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_partkey, l_suppkey
),
cand AS (
  SELECT ps_suppkey FROM ps
  JOIN part ON ps_partkey = p_partkey AND p_name LIKE 'small%'
  JOIN shipped ON ps_partkey = sh_partkey AND ps_suppkey = sh_suppkey
  WHERE ps_availqty > half_qty
)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
WHERE EXISTS (SELECT 1 FROM cand WHERE ps_suppkey = s_suppkey)
"""

ORACLES["pack_sequences_docs"] = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
b AS (SELECT doc_id,
             CAST(coalesce(len(toks), 0) AS BIGINT) AS n_tokens FROM d),
c AS (SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum
      FROM b)
SELECT doc_id, n_tokens,
  CAST(cum - n_tokens AS BIGINT) AS start_offset,
  CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS first_pack,
  CAST(floor(greatest(cum - 1, cum - n_tokens) / 2048) AS BIGINT)
    AS last_pack
FROM c
"""

ORACLES["unpivot_event_counts"] = """
WITH u AS (SELECT DISTINCT user_id FROM events),
t AS (SELECT unnest(['click','error','purchase','signup','view'])
             AS event_type),
c AS (SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type)
SELECT u.user_id, t.event_type,
       CAST(coalesce(n, 0) AS BIGINT) AS n_events
FROM u CROSS JOIN t
LEFT JOIN c ON u.user_id = c.user_id AND t.event_type = c.event_type
"""

ORACLES["resize_media_docs"] = r"""
WITH d AS (
  SELECT doc_id AS media_id,
         regexp_replace(coalesce(text, ''), '[^\x20-\x7e]', '', 'g') AS clean,
         CAST(32 + doc_id % 64 AS INT) AS width,
         CAST(32 + (doc_id * 7) % 64 AS INT) AS height
  FROM documents
)
SELECT media_id, width, height,
  CAST(least(len(clean), (width * height) % 256 + 32) AS BIGINT)
    AS n_bytes_out,
  md5(substr(clean, 1, (width * height) % 256 + 32)) AS out_digest
FROM d
"""

ORACLES["hybrid_retrieval_docs"] = f"""
WITH sparse AS ({{BM25}}),
em AS (SELECT doc_id, list_transform(generate_series(0, 15), j ->
      CAST(CAST('0x' || substr(md5(md5(text) || '|' || CAST(j AS VARCHAR)), 1, 8)
           AS BIGINT) AS DOUBLE) / 4294967296.0 - 0.5) AS v FROM documents),
n0 AS (SELECT doc_id, v, sqrt({_sq('v', 16)}) AS nrm FROM em),
uv AS (SELECT doc_id, CASE WHEN nrm = 0.0 THEN v
       ELSE list_transform(v, x -> x / nrm) END AS v FROM n0),
qd AS (SELECT doc_id AS query_id, v FROM uv WHERE doc_id % 97 = 0),
ds AS (
  SELECT query_id, c.doc_id, round({_dot('qd.v', 'c.v', 16)}, 6) AS cosine
  FROM uv c, qd WHERE c.doc_id <> qd.query_id
),
dense AS (SELECT query_id, doc_id, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, doc_id ASC) AS rank FROM ds
) WHERE rank <= 10),
f AS (
  SELECT coalesce(s.query_id, de.query_id) AS query_id,
         coalesce(s.doc_id, de.doc_id) AS doc_id,
         round(coalesce(1.0 / (60 + s.rank), 0.0)
               + coalesce(1.0 / (60 + de.rank), 0.0), 6) AS rrf_score
  FROM sparse s FULL OUTER JOIN dense de
    ON s.query_id = de.query_id AND s.doc_id = de.doc_id
)
SELECT query_id, doc_id, rrf_score, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY rrf_score DESC, doc_id ASC) AS rank
  FROM f
) WHERE rank <= 10
"""

ORACLES["training_data_pipeline"] = rf"""
WITH d AS (SELECT doc_id, text, source, {_TOKS} AS toks FROM documents),
m AS (
  SELECT doc_id, text, source, toks,
    {', '.join(f'{_hits(lang)} AS s_{lang}' for lang in sorted(_LANGS))},
    CASE WHEN len(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok,
    CASE WHEN len(text) = 0 THEN 0.0
         ELSE CAST(len(regexp_replace(text, '{_PUNCT}', '', 'g')) AS DOUBLE)
              / len(text) END AS praw
  FROM d
), q AS (
  SELECT *,
    CASE WHEN n_tok = 0 THEN 0.0
         ELSE CAST(s_en AS DOUBLE) / n_tok END AS sraw,
    CASE WHEN len(text) >= 100 AND len(text) <= 4000 THEN 1.0
         WHEN len(text) < 100 THEN CAST(len(text) AS DOUBLE) / 100.0
         ELSE 4000.0 / CAST(len(text) AS DOUBLE) END AS len_score
  FROM m
), scored AS (
  SELECT doc_id, text, toks, n_tok,
    {_LANG_CASE} AS lang_pred,
    round(len_score * 0.5 + (1.0 - least(praw * 5.0, 1.0)) * 0.25
          + least(sraw * 10.0, 1.0) * 0.25, 6) AS quality
  FROM q
), g AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(toks) >= 13
                THEN list_transform(generate_series(1, len(toks) - 12),
                                    i -> array_to_string(toks[i:i+12], ' '))
                ELSE CAST([] AS VARCHAR[]) END)) AS gram
  FROM d
),
evg AS (SELECT DISTINCT gram FROM g WHERE doc_id < 250),
cont AS (SELECT DISTINCT g.doc_id FROM g JOIN evg USING (gram)
         WHERE g.doc_id >= 250),
clean AS (
  SELECT * FROM scored
  WHERE lang_pred = 'en' AND quality >= 0.5 AND doc_id >= 250
    AND NOT EXISTS (SELECT 1 FROM cont WHERE cont.doc_id = scored.doc_id)
), deduped AS (
  SELECT * FROM clean
  QUALIFY doc_id = min(doc_id) OVER (
    PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
), c AS (
  SELECT doc_id, n_tok,
         SUM(n_tok) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum
  FROM deduped
)
SELECT CAST(floor((cum - n_tok) / 512) AS BIGINT) AS first_pack,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM c GROUP BY CAST(floor((cum - n_tok) / 512) AS BIGINT)
"""

_QZ = (
    "qe AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
    "qs AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0"
    " AS scale FROM qe), "
    "qz AS (SELECT vec_id, scale, "
    "CASE WHEN scale = 0.0 THEN list_transform(v, x -> CAST(0 AS BIGINT)) "
    "ELSE list_transform(v, x -> CAST(round(x / scale) AS BIGINT)) END AS q "
    "FROM qs)"
)

ORACLES["int8_quantize_embeddings"] = f"""
WITH {_QZ}
SELECT vec_id, round(scale, 6) AS scale,
  CAST(list_sum(q) AS BIGINT) AS q_sum,
  CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS q_sumsq,
  CAST(len(list_filter(q, x -> abs(x) = 127)) AS BIGINT) AS n_sat
FROM qz
"""

ORACLES["ann_topk_quantized"] = f"""
WITH {_QZ},
dq AS (SELECT vec_id, list_transform(q, x -> x * scale) AS v FROM qz),
dn AS (SELECT vec_id, v, sqrt({_sq('v')}) AS nrm FROM dq),
du AS (SELECT vec_id, CASE WHEN nrm = 0.0 THEN v
       ELSE list_transform(v, x -> x / nrm) END AS v FROM dn),
qry AS (SELECT vec_id, v FROM du WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_QCOS}, 6) AS cosine
  FROM du c, qry q WHERE c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""

ORACLES["chunk_dedup_docs"] = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
ch AS (SELECT doc_id, toks,
       unnest(generate_series(0, (greatest(len(toks) - 16, 0) + 15) // 16))
         AS chunk_id
       FROM d),
sl AS (SELECT doc_id, chunk_id,
       toks[chunk_id * 16 + 1 : chunk_id * 16 + 16] AS ct FROM ch),
ne AS (SELECT doc_id, chunk_id, len(ct) AS n_ct,
       array_to_string(ct, ' ') AS chunk FROM sl WHERE len(ct) > 0),
kept AS (SELECT * FROM ne QUALIFY row_number() OVER (
         PARTITION BY chunk ORDER BY doc_id, chunk_id) = 1),
reasm AS (SELECT doc_id, COUNT(*) AS n_kept,
          CAST(SUM(n_ct) AS BIGINT) AS clean_tokens,
          md5(string_agg(chunk, ' ' ORDER BY chunk_id)) AS clean_digest
          FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM ne GROUP BY doc_id)
SELECT d.doc_id,
  CAST(coalesce(tot.n_chunks, 0) AS BIGINT) AS n_chunks,
  CAST(coalesce(reasm.n_kept, 0) AS BIGINT) AS n_kept,
  CAST(coalesce(tot.n_chunks, 0) - coalesce(reasm.n_kept, 0) AS BIGINT)
    AS n_dropped,
  CAST(coalesce(reasm.clean_tokens, 0) AS BIGINT) AS clean_tokens,
  coalesce(reasm.clean_digest, md5('')) AS clean_digest
FROM d LEFT JOIN tot USING (doc_id) LEFT JOIN reasm USING (doc_id)
"""

_MIX_BUDGET = "CASE source " + " ".join(
    f"WHEN 'src{i}' THEN {400 + 50 * i}" for i in range(20)
) + " ELSE 0 END"

ORACLES["token_budget_mixture_docs"] = f"""
WITH d AS (SELECT doc_id, source, len({_TOKS}) AS n_tok,
           md5(source || '|' || CAST(doc_id AS VARCHAR)) AS h
           FROM documents),
c AS (SELECT *, SUM(n_tok) OVER (PARTITION BY source ORDER BY h) AS cum FROM d),
k AS (SELECT * FROM c WHERE cum <= {_MIX_BUDGET})
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM k GROUP BY source
"""


def _zexpr(a: str, b: str, bits: int = 16) -> str:
    """Morton interleave as a flat | chain — same math as
    operators.zorder.zvalue."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) % 2) << {2 * i})")
        terms.append(f"((({b} >> {i}) % 2) << {2 * i + 1})")
    return " | ".join(terms)


ORACLES["zorder_events"] = f"""
WITH e AS (SELECT user_id % 65536 AS ua,
                  least(CAST(floor(value) AS BIGINT), 65535) AS vb,
                  user_id
           FROM events),
z AS (SELECT {_zexpr('ua', 'vb')} AS zval, user_id FROM e)
SELECT zval >> 10 AS z_bucket,
       COUNT(*) AS n_events,
       CAST(min(zval) AS BIGINT) AS min_z,
       CAST(max(zval) AS BIGINT) AS max_z,
       CAST(SUM(user_id) AS BIGINT) AS tot_user
FROM z GROUP BY zval >> 10
"""

ORACLES["salted_join_events"] = f"""
WITH dim AS (SELECT DISTINCT event_type, len(event_type) AS w FROM events)
SELECT e.event_type, COUNT(*) AS n_events,
       {_money('e.value * d.w')} AS weighted_value
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY e.event_type
"""

ORACLES["embed_media_docs"] = """
WITH b AS (SELECT doc_id, md5(text) AS h FROM documents),
e AS (SELECT doc_id, list_transform(generate_series(0, 15), j ->
      CAST(CAST('0x' || substr(md5(h || '|' || CAST(j AS VARCHAR)), 1, 8)
           AS BIGINT) AS DOUBLE) / 4294967296.0 - 0.5) AS v FROM b),
s AS (SELECT doc_id, v,
      list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
z AS (SELECT doc_id, scale,
      CASE WHEN scale = 0.0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
           ELSE list_transform(v, x -> CAST(round(x / scale) AS BIGINT))
      END AS q FROM s)
SELECT doc_id, round(scale, 6) AS scale,
  CAST(list_sum(q) AS BIGINT) AS q_sum,
  CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS q_sumsq
FROM z
"""

ORACLES["incremental_lsh_docs"] = f"""
WITH {_SHINGLE_CTE},
sigs AS (SELECT doc_id, {_sig_list(16)} AS sig FROM s),
buckets AS ({_BUCKETS}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sig AS sig_a, b.sig AS sig_b
  FROM buckets a JOIN buckets b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
  WHERE b.doc_id >= 250
)
SELECT id_a, id_b, jaccard FROM (
  SELECT id_a, id_b,
    round(list_sum(list_transform(generate_series(1, 16),
      i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) / 16.0, 6) AS jaccard
  FROM cand
) WHERE jaccard >= 0.3
"""

ORACLES["fuzzy_decontaminate_docs"] = f"""
WITH {_SHINGLE_CTE},
sigs AS (SELECT doc_id, {_sig_list(16)} AS sig FROM s),
buckets AS ({_BUCKETS}),
cand AS (
  SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS eval_id,
         a.sig AS sig_a, b.sig AS sig_b
  FROM buckets a JOIN buckets b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
  WHERE a.doc_id >= 250 AND b.doc_id < 250
)
SELECT train_id, eval_id, jaccard FROM (
  SELECT train_id, eval_id,
    round(list_sum(list_transform(generate_series(1, 16),
      i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) / 16.0, 6) AS jaccard
  FROM cand
) WHERE jaccard >= 0.3
"""

ORACLES["histogram_quantile_events"] = """
WITH h AS (
  SELECT date_trunc('hour', ts) AS bucket_ts,
         CAST(floor(value / 10.0) AS BIGINT) AS bucket, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), d AS (
  SELECT CAST(date_trunc('day', bucket_ts) AS TIMESTAMP) AS day, bucket, SUM(n) AS n
  FROM h GROUP BY 1, 2
), c AS (
  SELECT day, bucket, n,
         SUM(n) OVER (PARTITION BY day ORDER BY bucket) AS cum,
         SUM(n) OVER (PARTITION BY day) AS total
  FROM d
)
SELECT day, CAST(MAX(total) AS BIGINT) AS n_rows,
  MIN(CASE WHEN cum * 2 >= total THEN bucket END) * 10.0 AS p50_lo,
  MIN(CASE WHEN cum * 10 >= total * 9 THEN bucket END) * 10.0 AS p90_lo
FROM c GROUP BY day
"""

ORACLES["semantic_dedup_embeddings"] = f"""
WITH g AS (SELECT unnest(generate_series(1, 64)) AS i),
x AS (
  SELECT label, g.i - 1 AS pos,
         floor(CAST(embedding[g.i] AS DOUBLE) * 1000000.0) / 1000000.0 AS q
  FROM embeddings CROSS JOIN g
), cl AS (
  SELECT label, pos,
         CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS centroid
  FROM x GROUP BY label, pos
), cv AS (
  SELECT label, list(centroid ORDER BY pos ASC) AS cvec FROM cl GROUP BY label
), ev AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), sc AS (
  SELECT vec_id, label, {_sq('(list_transform(generate_series(1, 64), i -> v[i] - cvec[i]))')} AS d2
  FROM ev CROSS JOIN cv
), asg AS (
  SELECT vec_id, label AS cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2 ASC, label ASC) AS rn
    FROM sc
  ) WHERE rn = 1
), n0 AS (
  SELECT ev.vec_id, asg.cluster, ev.v, sqrt({_sq('v')}) AS nrm
  FROM ev JOIN asg ON ev.vec_id = asg.vec_id
), n AS (
  -- unit vectors (same per-component x/nrm the engine hoists per row);
  -- pairwise cosine is then a single dot chain
  SELECT vec_id, cluster,
         CASE WHEN nrm = 0.0 THEN v
              ELSE list_transform(v, x -> x / nrm) END AS v
  FROM n0
), dups AS (
  SELECT DISTINCT b.vec_id FROM n a JOIN n b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE round(({_dot('a.v', 'b.v')}), 6) >= 0.25
)
SELECT vec_id, cluster FROM n
WHERE NOT EXISTS (SELECT 1 FROM dups WHERE dups.vec_id = n.vec_id)
"""


# --------------------------------------------------------------------------
# round 3: real-codec decode, sink end-states, J1
# --------------------------------------------------------------------------

# decode_real_media_docs: dims/duration are pure arithmetic in doc_id
# (codecs.synth_media_bytes); pix_match TRUE pins the full pixel
# round trip (encode → zlib/unfilter decode → identical digest).
ORACLES["decode_real_media_docs"] = """
SELECT doc_id AS media_id,
       CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
                       WHEN 2 THEN 'wav' WHEN 3 THEN 'gif'
                       ELSE 'jpeg' END AS format,
       CASE WHEN doc_id % 5 IN (0, 1, 3, 4)
            THEN CAST(4 + doc_id % 13 AS INT) END AS width,
       CASE WHEN doc_id % 5 IN (0, 1, 3, 4)
            THEN CAST(4 + (doc_id * 7) % 11 AS INT) END AS height,
       CASE WHEN doc_id % 5 = 2
            THEN (2 * (500 + doc_id % 1000) * 1000) // 16000 END AS duration_ms,
       CASE doc_id % 5
         -- PNG IDAT / GIF LZW / JPEG entropy streams are compressed
         -- (not arithmetic) -> NULL
         WHEN 1 THEN 54 + (4 + (doc_id * 7) % 11)
                          * ((4 + doc_id % 13) * 3 + (4 - ((4 + doc_id % 13) * 3) % 4) % 4)
         WHEN 2 THEN 44 + 2 * (500 + doc_id % 1000)
       END AS n_bytes,
       TRUE AS pix_match
FROM documents
"""

ORACLES["k1_insert_absent_sink"] = """
SELECT event_id, user_id, event_type, value
FROM events WHERE event_id % 3 = 0 OR event_id % 2 = 0
"""

ORACLES["k2_merge_update_sink"] = """
SELECT event_id, event_type,
       CASE WHEN event_id % 5 = 0 THEN value + 100.0 ELSE value END AS value
FROM events WHERE event_id % 3 = 0
"""

# the K3 sink commits the same upsert end state as the J4 batch form
ORACLES["k3_upsert_sink"] = ORACLES["j4_upsert"]

# k3_snapshot_append_sink: commit 1 = within-batch LAG changes over
# even event_ids; commit 2 = within-batch changes over odd event_ids,
# then diffed against the stored latest (max event_id) per user.
ORACLES["k3_snapshot_append_sink"] = """
WITH b1 AS (
  SELECT user_id, event_id, ts, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
  FROM events WHERE event_id % 2 = 0
), c1 AS (
  SELECT user_id, event_id, ts, event_type FROM b1
  WHERE prev IS NULL OR event_type IS DISTINCT FROM prev
), last1 AS (
  SELECT user_id, event_type AS last_type FROM (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
    FROM c1
  ) WHERE rn = 1
), b2 AS (
  SELECT user_id, event_id, ts, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
  FROM events WHERE event_id % 2 = 1
), c2 AS (
  SELECT user_id, event_id, ts, event_type FROM b2
  WHERE prev IS NULL OR event_type IS DISTINCT FROM prev
), kept2 AS (
  SELECT c2.user_id, c2.event_id, c2.ts, c2.event_type
  FROM c2 LEFT JOIN last1 ON c2.user_id = last1.user_id
  WHERE last1.user_id IS NULL
     OR c2.event_type IS DISTINCT FROM last1.last_type
)
SELECT user_id, event_id, ts, event_type FROM c1
UNION ALL
SELECT user_id, event_id, ts, event_type FROM kept2
"""

ORACLES["k4_partial_doc_sink"] = """
WITH seed AS (
  SELECT event_id AS id, event_type AS content,
         CAST(event_id % 7 AS INT) AS flags,
         FALSE AS deleted, CAST(NULL AS TIMESTAMP) AS deleted_ts
  FROM events WHERE event_id % 2 = 0
), b AS (
  SELECT event_id AS id, event_type || '!' AS content,
         value > 50 AS deleted, ts AS deleted_ts
  FROM events WHERE event_id % 3 = 0
)
SELECT coalesce(s.id, b.id) AS id,
       CASE WHEN b.id IS NOT NULL THEN b.content ELSE s.content END AS content,
       s.flags AS flags,
       CASE WHEN b.id IS NOT NULL THEN b.deleted ELSE s.deleted END AS deleted,
       CASE WHEN b.id IS NOT NULL AND b.deleted THEN b.deleted_ts
            ELSE s.deleted_ts END AS deleted_ts
FROM seed s FULL OUTER JOIN b ON s.id = b.id
"""

# live document store (sqlite json1) twins: same scenarios, same end
# states as the parquet-modeled K4/K5 rows -> oracles shared verbatim
ORACLES["k_docstore_partial_sink"] = ORACLES["k4_partial_doc_sink"]

# K5 subdoc set() is last-write-wins per message; ordered batches with
# in-batch max reduce make the end state "global max src_id per key"
ORACLES["k5_flags_subdoc_sink"] = """
WITH m AS (
  SELECT event_type, user_id, ts, MIN(event_id) AS msg_id
  FROM events GROUP BY event_type, user_id, ts
),
f AS (
  SELECT event_type, user_id, ts,
         CAST(floor(value) AS INT) AS flags, event_id AS src_id
  FROM events WHERE event_id % 11 = 0
),
r AS (
  SELECT f.event_type AS room, m.msg_id, f.flags, f.ts AS flag_ts, f.src_id
  FROM f JOIN m ON f.event_type = m.event_type
              AND f.user_id = m.user_id AND f.ts = m.ts
)
SELECT room, msg_id, flags, flag_ts FROM r
QUALIFY src_id = max(src_id) OVER (PARTITION BY room, msg_id)
"""

ORACLES["k_docstore_subdoc_sink"] = ORACLES["k5_flags_subdoc_sink"]

ORACLES["k6_additive_rollup_sink"] = """
SELECT event_type, date_trunc('hour', ts) AS hour,
       count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
FROM events
GROUP BY 1, 2
"""

ORACLES["j1_resolve_join"] = """
SELECT f.event_type, f.user_id, f.ts, l.event_id, f.value AS flag_value
FROM (SELECT event_type, user_id, ts, value FROM events WHERE event_id % 11 = 0) f
JOIN (SELECT event_type, user_id, ts, event_id FROM events) l
  ON f.event_type = l.event_type AND f.user_id = l.user_id AND f.ts = l.ts
"""

ORACLES["j1_unmatched_flags"] = """
SELECT f.event_type, f.user_id, f.ts,
       f.event_id AS flag_event_id, f.value AS flag_value
FROM (SELECT event_type, user_id, ts, event_id, value
      FROM events WHERE event_id % 11 = 0) f
WHERE NOT EXISTS (
  SELECT 1 FROM events l
  WHERE l.event_id % 2 = 0
    AND l.event_type = f.event_type
    AND l.user_id = f.user_id AND l.ts = f.ts
)
"""


def _lloyd_oracle(n_iters: int = 2) -> str:
    """Unrolled Lloyd iterations: each round is an M-step CTE pair
    (per-cluster quantized-decimal component means → ordered centroid
    list) and an E-step CTE pair (explicit left-associated d2 chain,
    (d2, cluster) tie-break) — the same arithmetic as the Spark loop,
    iteration by iteration."""
    d2 = " + ".join(
        f"(ev.v[{i}]-cvec[{i}])*(ev.v[{i}]-cvec[{i}])" for i in range(1, 65)
    )
    sql = [
        "WITH g AS (SELECT unnest(generate_series(1, 64)) AS i),",
        "ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),",
        "q AS (SELECT vec_id, g.i - 1 AS pos,",
        "  floor(CAST(embedding[g.i] AS DOUBLE) * 1000000.0) / 1000000.0 AS qv",
        "  FROM embeddings CROSS JOIN g),",
        "x0 AS (SELECT vec_id, label AS cluster FROM embeddings)",
    ]
    prev = "x0"
    for it in range(1, n_iters + 1):
        sql.append(
            f", cl{it} AS (SELECT a.cluster, q.pos,"
            f" CAST(SUM(CAST(q.qv AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS centroid"
            f" FROM q JOIN {prev} a ON q.vec_id = a.vec_id GROUP BY 1, 2)"
            f", cv{it} AS (SELECT cluster, list(centroid ORDER BY pos ASC) AS cvec"
            f" FROM cl{it} GROUP BY cluster)"
            f", sc{it} AS (SELECT ev.vec_id, cv{it}.cluster, {d2} AS d2"
            f" FROM ev CROSS JOIN cv{it})"
            f", x{it} AS (SELECT vec_id, cluster, d2 FROM ("
            f"  SELECT *, row_number() OVER (PARTITION BY vec_id"
            f"    ORDER BY d2 ASC, cluster ASC) AS rn FROM sc{it}) WHERE rn = 1)"
        )
        prev = f"x{it}"
    sql.append(
        f" SELECT vec_id, cluster, floor(d2 * 1000000.0) / 1000000.0 AS dist2"
        f" FROM {prev}"
    )
    return "\n".join(sql)


ORACLES["kmeans_lloyd_embeddings"] = _lloyd_oracle(2)


# --------------------------------------------------------------------------
# sources (S1-S7): topology, landing zone, demand fan-out
# --------------------------------------------------------------------------

_ROOMS = ["help", "global", "spoilers", "trade", "giveaways", "trivia", "staff"]

_POLL_VALUES = ", ".join(
    [f"('chat', '{r}', 1, 3600)" for r in _ROOMS]
    + [f"('flags', '{r}', 30, 120)" for r in _ROOMS]
    + ["('mailbox', NULL, 10, 360)", "('online', NULL, 600, 6)",
       "('staff', NULL, 3600, 1)"]
)

ORACLES["s_poll_schedule"] = f"""
SELECT * FROM (VALUES {_POLL_VALUES})
  AS t(source, key, interval_sec, polls_per_hour)
"""

_LANDING_VALUES = ", ".join(
    [f"('chat', '{r}')" for r in _ROOMS]
    + [f"('flags', '{r}')" for r in _ROOMS]
    + ["('mailbox', NULL)", "('online', NULL)", "('staff', NULL)"]
)

ORACLES["s_landing_roundtrip"] = f"""
SELECT source, key,
       TIMESTAMP '2024-06-01 12:00:00' AS fetch_ts,
       200 AS status,
       CAST(length(source || '|' || coalesce(key, '')) AS INT) AS n_bytes,
       md5(source || '|' || coalesce(key, '')) AS body_digest
FROM (VALUES {_LANDING_VALUES}) AS t(source, key)
"""

_SQLDB_MSG = """
SELECT id,
       'room' || CAST(id % 7 AS VARCHAR) AS room,
       TIMESTAMP '2024-06-01 00:00:00' + id * INTERVAL 1 SECOND AS ts
FROM (SELECT DISTINCT event_id % {modulo} AS id FROM events)
"""

ORACLES["k_sqldb_insert_absent"] = f"""
SELECT id, room, ts, CAST(id * 3 AS BIGINT) AS flags
FROM ({_SQLDB_MSG.format(modulo=500)})
"""

ORACLES["k_sqldb_merge_update"] = f"""
SELECT id, room, ts,
       CAST(CASE WHEN id % 3 = 0 THEN id + 1 ELSE 0 END AS BIGINT) AS flags
FROM ({_SQLDB_MSG.format(modulo=400)})
"""

ORACLES["k_sqldb_upsert"] = f"""
SELECT id, room, ts, CAST(2 AS BIGINT) AS flags
FROM ({_SQLDB_MSG.format(modulo=400)})
"""

# polled over real HTTP: the same landed rows as the local round-trip
ORACLES["s_http_poll_roundtrip"] = ORACLES["s_landing_roundtrip"]

ORACLES["s_http_demand_fanout"] = """
SELECT 'message' AS source,
       CAST(event_id AS VARCHAR) AS key,
       200 AS status,
       CAST(length('message:' || CAST(event_id AS VARCHAR)) AS INT) AS n_bytes,
       md5('message:' || CAST(event_id AS VARCHAR)) AS body_digest
FROM events WHERE event_id % 97 = 0
"""

# S4 demand fan-out: the same fetches as its HTTP twin
ORACLES["s4_demand_fanout"] = ORACLES["s_http_demand_fanout"]


# --------------------------------------------------------------------------
# parse round-trips P5-P8
# --------------------------------------------------------------------------

ORACLES["parse_profile_roundtrip"] = """
SELECT doc_id + 100 AS user_id,
       TIMESTAMP '2024-06-01 12:00:00' AS ts,
       'user' || CAST(doc_id AS VARCHAR) AS username,
       (doc_id % 3 = 0) AS is_farmhand,
       (doc_id % 3 IN (1, 2)) AS is_ranger
FROM documents
"""

ORACLES["parse_online_roundtrip"] = """
SELECT CAST(doc_id AS VARCHAR) AS key,
       'u' || CAST(doc_id AS VARCHAR) AS username FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR),
       'u' || CAST(doc_id AS VARCHAR) || ' jr' FROM documents
"""

ORACLES["parse_mailbox_roundtrip"] = """
SELECT doc_id * 2 AS id, TRUE AS unread FROM documents
UNION ALL
SELECT doc_id * 2 + 1, FALSE FROM documents
"""

ORACLES["parse_message_roundtrip"] = """
SELECT doc_id AS id,
       'u' || CAST(doc_id AS VARCHAR) AS username,
       CASE WHEN doc_id % 2 = 1
            THEN make_timestamp(2023, 12, 25,
                   CAST(doc_id % 11 + 1 AS INT), CAST(doc_id % 60 AS INT),
                   CAST(doc_id * 7 % 60 AS DOUBLE)) + INTERVAL 6 HOUR
            ELSE make_timestamp(2024, 4, 17,
                   CAST(doc_id % 11 + 1 AS INT), CAST(doc_id % 60 AS INT),
                   CAST(doc_id * 7 % 60 AS DOUBLE)) + INTERVAL 5 HOUR
       END AS ts,
       'Subject ' || CAST(doc_id AS VARCHAR) AS subject,
       'Body ' || CAST(doc_id AS VARCHAR) AS content
FROM documents
"""


# §2.9 bot dispatch
ORACLES["bot_dispatch_replies"] = """
SELECT doc_id AS reply_to_id,
       'u' || CAST(doc_id AS VARCHAR) AS username,
       CASE WHEN doc_id % 3 = 0 THEN 'RE: (no subject)'
            ELSE 'RE: hi ' || CAST(doc_id AS VARCHAR) END AS subject,
       CASE doc_id % 5
         WHEN 0 THEN 'pong'
         WHEN 1 THEN 'registered ' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 28)
         WHEN 2 THEN 'error: firebase uid must be exactly 28 characters'
         WHEN 3 THEN CASE WHEN doc_id % 10 = 3
                          THEN 'uid: UID' || CAST(doc_id AS VARCHAR)
                          ELSE 'not registered' END
         ELSE 'unknown command; try ping, userinfo, register <uid>'
       END AS body
FROM documents
"""


# E1 end-to-end: parse → CDC → K1 + K4 sink end states, joined
ORACLES["chat_pipeline_e2e"] = """
WITH d AS (
  SELECT doc_id,
         make_timestamp(2024, 6, 1,
           CAST(doc_id % 11 + 1 AS INT),
           CAST(doc_id % 60 AS INT),
           CAST(doc_id * 7 % 60 AS DOUBLE)) AS wall,
         source AS username,
         regexp_replace(substr(text, 1, 40), '[<>&@:]', '', 'g')
           || CASE WHEN doc_id % 3 = 0 THEN ' @zeta' ELSE '' END AS content1
  FROM documents
), r AS (
  SELECT *,
         content1 || CASE WHEN doc_id % 4 = 0 THEN ' edit2' ELSE '' END AS content2,
         (doc_id % 5 = 0) AS deleted2,
         (doc_id % 4 = 0 OR doc_id % 5 = 0) AS emitted2,
         CASE WHEN wall > TIMESTAMP '2024-06-01 07:00:00'
              THEN wall - INTERVAL 1 DAY ELSE wall END AS rolled
  FROM d
)
SELECT CAST(doc_id AS VARCHAR) AS id,
       timezone('UTC', timezone('America/Chicago', rolled)) AS msg_ts,
       username,
       content1 AS msg_content,
       FALSE AS msg_deleted,
       CASE WHEN emitted2 THEN content2 ELSE content1 END AS doc_content,
       CASE WHEN emitted2 THEN deleted2 ELSE FALSE END AS doc_deleted,
       CASE WHEN emitted2 AND deleted2
            THEN TIMESTAMP '2024-06-01 12:00:05' END AS doc_deleted_ts,
       CASE WHEN doc_id % 3 = 0 THEN 'zeta' ELSE '' END AS mentions,
       CAST(NULL AS INT) AS doc_flags
FROM r
"""


# Restart-recovery end state == the single-batch e2e end state; the
# oracle is shared verbatim (state restoration is what makes the
# two-run streaming path converge to it).
ORACLES["streaming_restart_recovery"] = ORACLES["chat_pipeline_e2e"]


# two-pass exact heavy hitters (phi = 1/200)
ORACLES["heavy_hitter_tokens"] = f"""
WITH toks AS (
  SELECT unnest({_TOKS}) AS item FROM documents
), n AS (SELECT count(*) AS total FROM toks)
SELECT item, count(*) AS n_occurrences
FROM toks, n
GROUP BY item, n.total
HAVING count(*) > n.total / 200
"""


# fixed-size deterministic priority sample
ORACLES["priority_sample_docs"] = """
SELECT doc_id, source,
       md5('prio|' || CAST(doc_id AS VARCHAR)) AS priority
FROM documents
ORDER BY priority ASC, doc_id ASC
LIMIT 100
"""


def _ivf_kmeans_sql() -> str:
    """IVF scoring within k-means cells: the kmeans_assign CTE chain
    (quantized per-label centroid means, explicit d2 chain, (d2, label)
    tie-break) feeds the same block-join scoring as _ivf_sql."""
    d2 = " + ".join(
        f"(ev.v[{i}]-cvec[{i}])*(ev.v[{i}]-cvec[{i}])" for i in range(1, 65)
    )
    return f"""
WITH {_EMB},
g AS (SELECT unnest(generate_series(1, 64)) AS i),
x AS (
  SELECT label, g.i - 1 AS pos,
         floor(CAST(embedding[g.i] AS DOUBLE) * 1000000.0) / 1000000.0 AS qv
  FROM embeddings CROSS JOIN g
), cl AS (
  SELECT label, pos,
         CAST(SUM(CAST(qv AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS centroid
  FROM x GROUP BY label, pos
), cv AS (
  SELECT label, list(centroid ORDER BY pos ASC) AS cvec FROM cl GROUP BY label
), ev AS (SELECT vec_id, v FROM n),
sc AS (
  SELECT ev.vec_id, cv.label, {d2} AS d2 FROM ev CROSS JOIN cv
), asg AS (
  SELECT vec_id, label AS block FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2 ASC, label ASC) AS rn
    FROM sc
  ) WHERE rn = 1
), blocked AS (
  SELECT u.vec_id, u.v, asg.block FROM u JOIN asg ON u.vec_id = asg.vec_id
), q AS (SELECT vec_id, v, block FROM blocked WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_QCOS}, 6) AS cosine
  FROM blocked c JOIN q ON c.block = q.block
  WHERE c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


ORACLES["ann_topk_ivf_kmeans"] = _ivf_kmeans_sql()


def _ann_recall_ivf_tuned_sql(n_probe: int = 6, k: int = 10) -> str:
    """Recall + probe-cost accounting for the TUNED kmeans-IVF: the
    kmeans assign chain ranked to rn<=n_probe probes per query, k=10,
    exact brute force recomputed alongside, n_cand = scored candidates
    per query."""
    d2 = " + ".join(
        f"(ev.v[{i}]-cvec[{i}])*(ev.v[{i}]-cvec[{i}])" for i in range(1, 65)
    )
    return f"""
WITH {_EMB},
g AS (SELECT unnest(generate_series(1, 64)) AS i),
x AS (
  SELECT label, g.i - 1 AS pos,
         floor(CAST(embedding[g.i] AS DOUBLE) * 1000000.0) / 1000000.0 AS qv
  FROM embeddings CROSS JOIN g
), cl AS (
  SELECT label, pos,
         CAST(SUM(CAST(qv AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS centroid
  FROM x GROUP BY label, pos
), cv AS (
  SELECT label, list(centroid ORDER BY pos ASC) AS cvec FROM cl GROUP BY label
), ev AS (SELECT vec_id, v FROM e),
sc AS (
  SELECT ev.vec_id, cv.label, {d2} AS d2 FROM ev CROSS JOIN cv
), rk AS (
  SELECT vec_id, label,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY d2 ASC, label ASC) AS rn
  FROM sc
), asg AS (SELECT vec_id, label AS block FROM rk WHERE rn = 1),
blocked AS (
  SELECT u.vec_id, u.v, asg.block FROM u JOIN asg ON u.vec_id = asg.vec_id
), qp AS (
  SELECT vec_id AS query_id, label AS block FROM rk
  WHERE vec_id < 10 AND rn <= {n_probe}
), qu AS (SELECT vec_id AS query_id, v FROM u WHERE vec_id < 10),
scored AS (
  SELECT qp.query_id, c.vec_id AS neighbor_id,
         round({_dot('q.v', 'c.v')}, 6) AS cosine
  FROM blocked c
  JOIN qp ON c.block = qp.block
  JOIN qu q ON qp.query_id = q.query_id
  WHERE c.vec_id <> qp.query_id
),
ncand AS (
  SELECT query_id, CAST(count(*) AS BIGINT) AS n_cand
  FROM scored GROUP BY query_id
),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {k}
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round({_dot('q.v', 'c.v')}, 6) DESC, c.vec_id ASC
           ) AS rank
    FROM u c, qu q WHERE c.vec_id <> q.query_id
  ) WHERE rank <= {k}
),
hit AS (
  SELECT e2.query_id, COUNT(*) AS hits
  FROM exact e2 JOIN approx a
    ON e2.query_id = a.query_id AND e2.neighbor_id = a.neighbor_id
  GROUP BY e2.query_id
),
base AS (SELECT query_id, COUNT(*) AS k_exact FROM exact GROUP BY query_id)
SELECT b.query_id, b.k_exact,
       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       round(COALESCE(h.hits, 0) / b.k_exact, 6) AS recall_at_k,
       CAST(COALESCE(nc.n_cand, 0) AS BIGINT) AS n_cand
FROM base b
LEFT JOIN hit h ON b.query_id = h.query_id
LEFT JOIN ncand nc ON b.query_id = nc.query_id
"""


ORACLES["ann_recall_ivf_tuned"] = _ann_recall_ivf_tuned_sql()


# E2 end-to-end: chat seeds messages, flags resolve + correlated update
ORACLES["flags_pipeline_e2e"] = """
WITH d AS (
  SELECT doc_id,
         make_timestamp(2024, 6, 1,
           CAST(doc_id % 11 + 1 AS INT),
           CAST(doc_id % 60 AS INT),
           CAST(doc_id * 7 % 60 AS DOUBLE)) AS wall
  FROM documents
), r AS (
  SELECT doc_id,
         CASE WHEN wall > TIMESTAMP '2024-06-01 07:00:00'
              THEN wall - INTERVAL 1 DAY ELSE wall END AS rolled
  FROM d
)
SELECT CAST(doc_id AS VARCHAR) AS id,
       'u' || CAST(doc_id AS VARCHAR) AS username,
       timezone('UTC', timezone('America/Chicago', rolled)) AS ts,
       CASE WHEN doc_id % 11 <= 5
            THEN CAST(doc_id % 7 + 1 AS INT) ELSE 0 END AS flags,
       FALSE AS deleted
FROM r
"""


# E3 end-to-end: upsert + snapshot append with no-op elimination
ORACLES["user_pipeline_e2e"] = """
SELECT doc_id + 100 AS user_id,
       TIMESTAMP '2024-06-01 12:00:00' AS ts,
       'user' || CAST(doc_id AS VARCHAR) AS username,
       (doc_id % 3 = 0) AS is_farmhand,
       (doc_id % 3 IN (1, 2)) AS is_ranger
FROM documents
UNION ALL
SELECT doc_id + 100,
       TIMESTAMP '2024-06-01 12:00:10',
       'user' || CAST(doc_id AS VARCHAR),
       ((doc_id + 1) % 3 = 0),
       ((doc_id + 1) % 3 IN (1, 2))
FROM documents
-- Ranger→Admin (idx 1→2) both flatten to is_ranger: flags unchanged,
-- so D4 suppresses the snapshot — only idx 0→1 and 2→0 survive
WHERE doc_id % 4 = 0 AND doc_id % 3 <> 1
"""


# P9 quarantine channel: exactly the broken payloads, fail-loud message
ORACLES["parse_quarantine_channel"] = """
SELECT CAST(doc_id AS VARCHAR) AS key,
       TIMESTAMP '2024-06-01 12:00:00' AS fetch_ts,
       'Unable to find message ID link' AS error
FROM documents WHERE doc_id % 7 = 0
"""


# J1 stream-stream join: bounded run == batch join on the natural key
ORACLES["streaming_flags_join_events"] = """
SELECT c.event_type AS room,
       CAST(c.event_id AS VARCHAR) AS id,
       c.ts AS ts,
       'u' || CAST(c.user_id AS VARCHAR) AS username,
       CAST(floor(f.value) AS INT) AS flags
FROM events c
JOIN (SELECT event_type, ts, user_id, value FROM events
      WHERE event_id % 13 = 0) f
  ON c.event_type = f.event_type AND c.ts = f.ts AND c.user_id = f.user_id
"""


def _semantic_dedup_lloyd_sql() -> str:
    """Lloyd(2) cluster assignment CTEs + the unit-vector semantic
    dedup tail — the composed-curation oracle."""
    d2 = " + ".join(
        f"(ev.v[{i}]-cvec[{i}])*(ev.v[{i}]-cvec[{i}])" for i in range(1, 65)
    )
    lloyd = [
        "WITH g AS (SELECT unnest(generate_series(1, 64)) AS i),",
        "ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),",
        "q AS (SELECT vec_id, g.i - 1 AS pos,",
        "  floor(CAST(embedding[g.i] AS DOUBLE) * 1000000.0) / 1000000.0 AS qv",
        "  FROM embeddings CROSS JOIN g),",
        "x0 AS (SELECT vec_id, label AS cluster FROM embeddings)",
    ]
    prev = "x0"
    for it in (1, 2):
        lloyd.append(
            f", cl{it} AS (SELECT a.cluster, q.pos,"
            f" CAST(SUM(CAST(q.qv AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS centroid"
            f" FROM q JOIN {prev} a ON q.vec_id = a.vec_id GROUP BY 1, 2)"
            f", cv{it} AS (SELECT cluster, list(centroid ORDER BY pos ASC) AS cvec"
            f" FROM cl{it} GROUP BY cluster)"
            f", sc{it} AS (SELECT ev.vec_id, cv{it}.cluster, {d2} AS d2"
            f" FROM ev CROSS JOIN cv{it})"
            f", x{it} AS (SELECT vec_id, cluster, d2 FROM ("
            f"  SELECT *, row_number() OVER (PARTITION BY vec_id"
            f"    ORDER BY d2 ASC, cluster ASC) AS rn FROM sc{it}) WHERE rn = 1)"
        )
        prev = f"x{it}"
    tail = f"""
, n0 AS (
  SELECT ev.vec_id, {prev}.cluster, ev.v, sqrt({_sq('ev.v')}) AS nrm
  FROM ev JOIN {prev} ON ev.vec_id = {prev}.vec_id
), nn AS (
  SELECT vec_id, cluster,
         CASE WHEN nrm = 0.0 THEN v
              ELSE list_transform(v, x -> x / nrm) END AS v
  FROM n0
), dups AS (
  SELECT DISTINCT b.vec_id FROM nn a JOIN nn b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE round(({_dot('a.v', 'b.v')}), 6) >= 0.25
)
SELECT vec_id, cluster FROM nn
WHERE NOT EXISTS (SELECT 1 FROM dups WHERE dups.vec_id = nn.vec_id)
"""
    return "\n".join(lloyd) + tail


ORACLES["semantic_dedup_lloyd"] = _semantic_dedup_lloyd_sql()


# mailbox→mail end-to-end: unread (even) ids only, fields arithmetic
ORACLES["mailbox_pipeline_e2e"] = """
SELECT doc_id * 2 AS id,
       'u' || CAST(doc_id * 2 AS VARCHAR) AS username,
       make_timestamp(2024, 4, 17,
         CAST((doc_id * 2) % 11 + 1 AS INT),
         CAST((doc_id * 2) % 60 AS INT),
         CAST((doc_id * 2) * 7 % 60 AS DOUBLE)) + INTERVAL 5 HOUR AS ts,
       'Subject ' || CAST(doc_id * 2 AS VARCHAR) AS subject,
       'Body ' || CAST(doc_id * 2 AS VARCHAR) AS content
FROM documents
"""


# K6 claims gate: emit only on claims-JSON change (first obs included)
# K7 over real HTTP: the server-recorded sendmessage form payloads ==
# the dispatch result (same mail synthesis as bot_dispatch_replies)
ORACLES["k_http_reply_sink"] = ORACLES["bot_dispatch_replies"]


# K6 over real HTTP: server-recorded accounts:update JSON payloads ==
# the D5-gated claims change set
ORACLES["k_http_claims_sink"] = """
WITH s AS (
  SELECT user_id,
         (value > 50) AS f, (event_type = 'click') AS r,
         lag(value > 50) OVER w AS pf,
         lag(event_type = 'click') OVER w AS pr
  FROM events WHERE user_id % 7 = 0
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
)
SELECT 'UID' || CAST(user_id AS VARCHAR) AS local_id,
       '{"farmhand":"' || CAST(f AS VARCHAR) || '","ranger":"'
         || CAST(r AS VARCHAR) || '"}' AS claims
FROM s
WHERE pf IS NULL OR f IS DISTINCT FROM pf OR r IS DISTINCT FROM pr
"""


# Luhn-validated card detection: counts pinned from the synthesis
# arithmetic (checksum itself pinned digit-by-digit in pytest)
ORACLES["pii_cards_docs"] = """
SELECT doc_id,
       CAST(1 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
              + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS n_candidates,
       CAST(1 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS n_valid_cards
FROM documents
"""

# streaming docstore ingest == batch recompute from the events table
ORACLES["streaming_docstore_sink"] = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
FROM events GROUP BY user_id
"""

# robots.txt parse + agent scoping: expected rules reconstructed from
# the synthesis arithmetic (grammar corners pinned in tests/test_crawl)
ORACLES["parse_robots_rules_docs"] = r"""
WITH h AS (
  SELECT DISTINCT source || '.example.com' AS host,
         CAST(regexp_extract(source, '(\d+)', 1) AS INT) AS n
  FROM documents
)
SELECT host, 'farmbot' AS agent_scope,
       '/Docs/' || CAST(n AS VARCHAR) AS prefix, FALSE AS allow FROM h
UNION ALL
SELECT host, 'farmbot', '/Docs/' || CAST(n AS VARCHAR) || '/sub', TRUE FROM h
UNION ALL
SELECT host, 'anon', '/tmp', FALSE FROM h
UNION ALL
SELECT host, 'anon', '/tmp/pub', TRUE FROM h
UNION ALL
-- crawler 'farmbot/2.1': both 'farmbot' and 'farm' tokens are
-- substrings; the LONGEST ('farmbot') wins -> the Docs group only
SELECT host, 'versioned', '/Docs/' || CAST(n AS VARCHAR), FALSE FROM h
UNION ALL
SELECT host, 'versioned', '/Docs/' || CAST(n AS VARCHAR) || '/sub', TRUE
FROM h
UNION ALL
-- crawler 'farmville/1.0': only the short 'farm' token matches
SELECT host, 'generic', '/farm-generic', FALSE FROM h
"""

# Crawl loop e2e: the fake site's robots bodies are deterministic in
# the host NUMBER (sources/fakesite.py /robots.txt route), so the
# expected verdicts reduce to arithmetic — n%3==0 hosts publish only
# '* Disallow /Docs' (matched_len 5, denied); other hosts give
# farmbot 'Disallow /Docs/{n}' (6+len(n)) with an Allow carve-out
# '/Docs/{n}/pub' (10+len(n)) that only even doc_ids' paths enter.
ORACLES["crawl_robots_e2e_docs"] = r"""
WITH h AS (
  SELECT doc_id,
         CAST(regexp_extract(source, '(\d+)', 1) AS INT) AS n
  FROM documents
)
SELECT doc_id,
       CAST(CASE WHEN n % 3 = 0 THEN 5
                 WHEN doc_id % 2 = 0
                   THEN 10 + len(CAST(n AS VARCHAR))
                 ELSE 6 + len(CAST(n AS VARCHAR)) END AS BIGINT)
         AS matched_len,
       CASE WHEN n % 3 = 0 THEN FALSE
            ELSE doc_id % 2 = 0 END AS allowed
FROM h
"""

ORACLES["claims_gate_events"] = """
WITH s AS (
  SELECT user_id, event_id,
         (value > 50) AS f, (event_type = 'click') AS r,
         lag(value > 50) OVER w AS pf,
         lag(event_type = 'click') OVER w AS pr
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
)
SELECT user_id, event_id,
       '{"farmhand":"' || CAST(f AS VARCHAR) || '","ranger":"'
         || CAST(r AS VARCHAR) || '"}' AS claims
FROM s
WHERE pf IS NULL OR f IS DISTINCT FROM pf OR r IS DISTINCT FROM pr
"""


# continuous-ingest LSH: union of per-batch deltas == one-shot batch run
ORACLES["streaming_incremental_lsh"] = ORACLES["minhash_lsh_pairs_docs"]


def _cdc_chunk_sql(window: int = 8, modulus: int = 64) -> str:
    """Content-defined chunking oracle: identical unrolled Horner chain
    per position (base 131 over ASCII codes — exact BIGINT, no overflow)
    and the same [0, boundaries…, n] cut list."""
    h = f"CAST(ascii(substr(s, i - {window - 1}, 1)) AS BIGINT)"
    for k in range(window - 2, -1, -1):
        h = f"({h} * 131 + ascii(substr(s, i - {k}, 1)))"
    return f"""
WITH d AS (
  SELECT doc_id,
         regexp_replace(text, '[^\\x20-\\x7e]', '', 'g') AS s
  FROM documents
), dd AS (SELECT doc_id, s, len(s) AS n FROM d WHERE len(s) > 0),
pos AS (
  SELECT doc_id, s, n, unnest(generate_series({window}, n)) AS i
  FROM dd WHERE n >= {window}
), hb AS (
  SELECT doc_id, CAST(i AS BIGINT) AS i FROM pos WHERE {h} % {modulus} = 0
), b AS (
  SELECT doc_id, list(i ORDER BY i) AS bs FROM hb GROUP BY doc_id
), c AS (
  SELECT dd.doc_id, dd.s,
         list_sort(list_distinct(
           coalesce(b.bs, CAST([] AS BIGINT[]))
           || [CAST(0 AS BIGINT), CAST(dd.n AS BIGINT)]
         )) AS cuts
  FROM dd LEFT JOIN b USING (doc_id)
), ch AS (
  SELECT doc_id, s, cuts, unnest(generate_series(1, len(cuts) - 1)) AS j
  FROM c
)
SELECT doc_id,
       CAST(j - 1 AS INT) AS chunk_idx,
       cuts[j] AS start,
       cuts[j + 1] - cuts[j] AS length,
       md5(substr(s, CAST(cuts[j] + 1 AS INT), CAST(cuts[j + 1] - cuts[j] AS INT)))
         AS digest
FROM ch
"""


ORACLES["cdc_chunk_docs"] = _cdc_chunk_sql()


# --------------------------------------------------------------------------
# r4 corpus-curation family (operators/curation.py)

ORACLES["source_quota_docs"] = """
SELECT doc_id, source, sample_rank FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(source || '|' || CAST(doc_id AS VARCHAR)) ASC,
                    doc_id ASC
         ) AS sample_rank
  FROM documents
) WHERE sample_rank <= 10
"""

ORACLES["token_shards_docs"] = f"""
WITH d AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tok FROM documents),
c AS (
  SELECT doc_id, n_tok,
         CAST(SUM(n_tok) OVER (ORDER BY doc_id) AS BIGINT) AS cum
  FROM d
)
SELECT doc_id, n_tok, cum,
       CAST(floor((cum - n_tok) / 2000) AS BIGINT) AS shard_id
FROM c
"""

ORACLES["boilerplate_docs"] = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {_SHINGLES} AS sh FROM d),
inst AS (SELECT doc_id, unnest(sh) AS g FROM s),
dfreq AS (
  SELECT g, count(*) AS df
  FROM (SELECT doc_id, unnest(list_distinct(sh)) AS g FROM s)
  GROUP BY g
),
nd AS (SELECT count(*) AS n FROM documents),
boiler AS (SELECT g FROM dfreq, nd WHERE df >= ceil(0.01 * n)),
m AS (
  SELECT doc_id, count(*) AS n_boiler
  FROM inst JOIN boiler USING (g) GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(len(sh) AS BIGINT) AS n_grams,
       coalesce(n_boiler, 0) AS n_boiler,
       CASE WHEN len(sh) = 0 THEN 0.0
            ELSE round(CAST(coalesce(n_boiler, 0) AS DOUBLE) / len(sh), 6)
       END AS boiler_ratio
FROM s LEFT JOIN m ON s.doc_id = m.doc_id
"""

# Shared bigram-LM CTE prefix (CCNet-style quality filtering): BOS-
# prefixed bigram instances, add-one-smoothed conditional probs.
_BIGRAM_LM = f"""
WITH d AS (SELECT doc_id, {{toks}} AS toks FROM documents),
ii AS (SELECT doc_id, toks,
              unnest(generate_series(1, len(toks))) AS i
       FROM d),
pairs AS (
  SELECT doc_id,
         CASE WHEN i = 1 THEN '<s>' ELSE toks[i-1] END AS prev,
         toks[i] AS w
  FROM ii
),
cpw AS (SELECT prev, w, count(*) AS c FROM pairs GROUP BY prev, w),
cp AS (SELECT prev, CAST(SUM(c) AS BIGINT) AS cp FROM cpw GROUP BY prev),
voc AS (SELECT count(DISTINCT w) AS V FROM pairs),
prob AS (
  SELECT prev, w, c,
         CAST(c + 1 AS DOUBLE) / CAST(cp + V AS DOUBLE) AS p
  FROM cpw JOIN cp USING (prev) CROSS JOIN voc
)
""".replace("{toks}", _TOKS)

_DOC_NLL = _BIGRAM_LM + """,
scored AS (
  SELECT doc_id,
         floor(-ln(p) * 1000000.0) / 1000000.0 AS q
  FROM pairs JOIN prob USING (prev, w)
),
s AS (
  SELECT doc_id, count(*) AS n_tok,
         round(CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
           AS nll
  FROM scored GROUP BY doc_id
),
nlls AS (
  SELECT dd.doc_id,
         coalesce(n_tok, 0) AS n_tok,
         coalesce(nll, 0.0) AS nll
  FROM documents dd LEFT JOIN s USING (doc_id)
)
"""

# Interpolated Kneser-Ney bigram LM: D = 3/4 (dyadic), continuation
# distribution add-one smoothed; the probability expression is
# parenthesized EXACTLY as the Spark operator builds it so every IEEE
# step matches bit-for-bit.
_KN_BIGRAM_LM = f"""
WITH d AS (SELECT doc_id, {{toks}} AS toks FROM documents),
ii AS (SELECT doc_id, toks,
              unnest(generate_series(1, len(toks))) AS i
       FROM d),
pairs AS (
  SELECT doc_id,
         CASE WHEN i = 1 THEN '<s>' ELSE toks[i-1] END AS prev,
         toks[i] AS w
  FROM ii
),
cpw AS (SELECT prev, w, count(*) AS c FROM pairs GROUP BY prev, w),
cp AS (SELECT prev, CAST(SUM(c) AS BIGINT) AS cp,
              CAST(count(*) AS BIGINT) AS n1p
       FROM cpw GROUP BY prev),
cont AS (SELECT w, CAST(count(*) AS BIGINT) AS cw_cont
         FROM cpw GROUP BY w),
scal AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM cpw) AS n_types,
                (SELECT count(DISTINCT w) FROM pairs) AS V),
prob AS (
  SELECT prev, w, c, cp, n1p, cw_cont, n_types, V,
         ((CAST(c AS DOUBLE) - 0.75) / CAST(cp AS DOUBLE))
         + ((0.75 * CAST(n1p AS DOUBLE)) / CAST(cp AS DOUBLE))
           * (CAST(cw_cont + 1 AS DOUBLE) / CAST(n_types + V AS DOUBLE))
           AS p
  FROM cpw JOIN cp USING (prev) JOIN cont USING (w) CROSS JOIN scal
)
""".replace("{toks}", _TOKS)

ORACLES["kn_bigram_lm_docs"] = _KN_BIGRAM_LM + """
SELECT prev, w, c, n1p, cw_cont,
       CAST(floor(p * 1000000.0) AS BIGINT) AS prob_micros
FROM prob
ORDER BY c DESC, prev, w
LIMIT 200
"""

# Order-5 interpolated Kneser-Ney (the CCNet/KenLM shape): raw counts
# at order 5, continuation counts at 4..1 — each level derived from
# the table above it by a suffix re-aggregation (support(c_k) = rows
# of table_{k+1} grouped by suffix), exactly the Spark construction in
# operators/langmodel.kn_ngram_tables. Contexts are SPACE-joined
# (tokens are whitespace-split, so the separator can never occur
# inside one); p1..p5 are materialized stage by stage with the same
# parenthesization as _kn_attach_p so every IEEE step matches.
_KN5_LM = f"""
WITH d AS (SELECT doc_id, {{toks}} AS toks FROM documents),
ii AS (SELECT doc_id, toks,
              unnest(generate_series(1, len(toks))) AS i
       FROM d),
inst AS (
  SELECT doc_id,
         array_to_string(list_slice(
           list_concat(['<s>', '<s>', '<s>', '<s>'], toks), i, i + 3
         ), ' ') AS ctx,
         toks[i] AS w
  FROM ii
),
t5 AS (SELECT ctx, w, count(*) AS c FROM inst GROUP BY ctx, w),
den5 AS (SELECT ctx, CAST(SUM(c) AS BIGINT) AS den,
                CAST(count(*) AS BIGINT) AS n1p
         FROM t5 GROUP BY ctx),
t4 AS (SELECT substr(ctx, instr(ctx, ' ') + 1) AS ctx, w,
              CAST(count(*) AS BIGINT) AS nn
       FROM t5 GROUP BY 1, 2),
den4 AS (SELECT ctx, CAST(SUM(nn) AS BIGINT) AS den,
                CAST(count(*) AS BIGINT) AS n1p
         FROM t4 GROUP BY ctx),
t3 AS (SELECT substr(ctx, instr(ctx, ' ') + 1) AS ctx, w,
              CAST(count(*) AS BIGINT) AS nn
       FROM t4 GROUP BY 1, 2),
den3 AS (SELECT ctx, CAST(SUM(nn) AS BIGINT) AS den,
                CAST(count(*) AS BIGINT) AS n1p
         FROM t3 GROUP BY ctx),
t2 AS (SELECT substr(ctx, instr(ctx, ' ') + 1) AS ctx, w,
              CAST(count(*) AS BIGINT) AS nn
       FROM t3 GROUP BY 1, 2),
den2 AS (SELECT ctx, CAST(SUM(nn) AS BIGINT) AS den,
                CAST(count(*) AS BIGINT) AS n1p
         FROM t2 GROUP BY ctx),
t1 AS (SELECT w, CAST(count(*) AS BIGINT) AS nn FROM t2 GROUP BY w),
scal AS (SELECT (SELECT CAST(SUM(nn) AS BIGINT) FROM t1) AS n1tot,
                (SELECT CAST(count(*) AS BIGINT) FROM t1) AS V),
j AS (
  SELECT t5.ctx, t5.w, t5.c,
         den5.den AS ch, den5.n1p AS n1p5,
         t4.nn AS nn4, den4.den AS dn4, den4.n1p AS n1p4,
         t3.nn AS nn3, den3.den AS dn3, den3.n1p AS n1p3,
         t2.nn AS nn2, den2.den AS dn2, den2.n1p AS n1p2,
         t1.nn AS nn1, scal.n1tot, scal.V
  FROM t5
  JOIN den5 ON den5.ctx = t5.ctx
  JOIN t4 ON t4.ctx = substr(t5.ctx, instr(t5.ctx, ' ') + 1)
         AND t4.w = t5.w
  JOIN den4 ON den4.ctx = t4.ctx
  JOIN t3 ON t3.ctx = substr(t4.ctx, instr(t4.ctx, ' ') + 1)
         AND t3.w = t5.w
  JOIN den3 ON den3.ctx = t3.ctx
  JOIN t2 ON t2.ctx = substr(t3.ctx, instr(t3.ctx, ' ') + 1)
         AND t2.w = t5.w
  JOIN den2 ON den2.ctx = t2.ctx
  JOIN t1 ON t1.w = t5.w
  CROSS JOIN scal
),
p1c AS (SELECT *,
          CAST(nn1 + 1 AS DOUBLE) / CAST(n1tot + V AS DOUBLE) AS p1
        FROM j),
p2c AS (SELECT *,
          ((CAST(nn2 AS DOUBLE) - 0.75) / CAST(dn2 AS DOUBLE))
          + ((0.75 * CAST(n1p2 AS DOUBLE)) / CAST(dn2 AS DOUBLE)) * p1
            AS p2
        FROM p1c),
p3c AS (SELECT *,
          ((CAST(nn3 AS DOUBLE) - 0.75) / CAST(dn3 AS DOUBLE))
          + ((0.75 * CAST(n1p3 AS DOUBLE)) / CAST(dn3 AS DOUBLE)) * p2
            AS p3
        FROM p2c),
p4c AS (SELECT *,
          ((CAST(nn4 AS DOUBLE) - 0.75) / CAST(dn4 AS DOUBLE))
          + ((0.75 * CAST(n1p4 AS DOUBLE)) / CAST(dn4 AS DOUBLE)) * p3
            AS p4
        FROM p3c),
prob AS (SELECT ctx, w, c, ch,
           ((CAST(c AS DOUBLE) - 0.75) / CAST(ch AS DOUBLE))
           + ((0.75 * CAST(n1p5 AS DOUBLE)) / CAST(ch AS DOUBLE)) * p4
             AS p
         FROM p4c)
""".replace("{toks}", _TOKS)

ORACLES["kn_5gram_lm_docs"] = _KN5_LM + """
SELECT ctx, w, c, ch,
       CAST(floor(p * 1000000.0) AS BIGINT) AS prob_micros
FROM prob
ORDER BY c DESC, ctx, w
LIMIT 200
"""

ORACLES["kn5_perplexity_docs"] = _KN5_LM + """,
scored AS (
  SELECT doc_id,
         floor(-ln(p) * 1000000.0) / 1000000.0 AS q
  FROM inst JOIN prob USING (ctx, w)
),
s AS (
  SELECT doc_id, count(*) AS n_tok,
         round(CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
           AS nll
  FROM scored GROUP BY doc_id
)
SELECT dd.doc_id,
       coalesce(n_tok, 0) AS n_tok,
       coalesce(nll, 0.0) AS nll
FROM documents dd LEFT JOIN s USING (doc_id)
"""

ORACLES["kn5_ppl_filter_docs"] = _KN5_LM + """,
scored AS (
  SELECT doc_id,
         floor(-ln(p) * 1000000.0) / 1000000.0 AS q
  FROM inst JOIN prob USING (ctx, w)
),
s AS (
  SELECT doc_id, count(*) AS n_tok,
         round(CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
           AS nll
  FROM scored GROUP BY doc_id
),
nlls AS (
  SELECT dd.doc_id,
         coalesce(n_tok, 0) AS n_tok,
         coalesce(nll, 0.0) AS nll
  FROM documents dd LEFT JOIN s USING (doc_id)
)
SELECT doc_id, n_tok, nll,
       CASE WHEN nll <= 1.02 THEN 'head'
            WHEN nll <= 1.13 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM nlls
WHERE nll <= 1.13
"""

# Per-language CCNet (Wenzek et al.'s actual multilingual regime):
# one order-5 KN model per detected language, all count relations
# keyed by lang, each doc scored by ITS language's model, per-language
# thresholds SELF-CALIBRATED from the snapshot itself (the
# mean-anchored band computed by operators.langmodel.ccnet_thresholds:
# keep nll <= lang_mean + spread, demote the band above it — no
# hard-coded constants anywhere). The langs CTE is the lang_id_script
# oracle verbatim (11-way probe detection). Every shared CTE is AS
# MATERIALIZED: without the hint DuckDB re-inlines the keyed count
# chain per reference and the 9-way probability join goes from <1 s
# to minutes at sf0.001 (measured); materialization restores the
# build-each-level-once shape the Spark side has by construction.
# ii..nlls of the keyed (one-model-per-lang) order-5 KN chain over a
# `d`(doc_id, lang, toks) relation + a `langs`(doc_id, lang) relation —
# shared by the standalone per-lang CCNet row and the v7 pipeline
# (which feeds it the interior's survivors instead of raw documents).
_KN5_KEYED_TAIL = """ii AS (SELECT doc_id, lang, toks,
              unnest(generate_series(1, len(toks))) AS i
       FROM d),
inst AS MATERIALIZED (
  SELECT doc_id, lang,
         array_to_string(list_slice(
           list_concat(['<s>', '<s>', '<s>', '<s>'], toks), i, i + 3
         ), ' ') AS ctx,
         toks[i] AS w
  FROM ii
),
t5 AS MATERIALIZED (
  SELECT lang, ctx, w, count(*) AS c FROM inst GROUP BY lang, ctx, w),
den5 AS MATERIALIZED (
  SELECT lang, ctx, CAST(SUM(c) AS BIGINT) AS den,
         CAST(count(*) AS BIGINT) AS n1p
  FROM t5 GROUP BY lang, ctx),
t4 AS MATERIALIZED (
  SELECT lang, substr(ctx, instr(ctx, ' ') + 1) AS ctx, w,
         CAST(count(*) AS BIGINT) AS nn
  FROM t5 GROUP BY 1, 2, 3),
den4 AS MATERIALIZED (
  SELECT lang, ctx, CAST(SUM(nn) AS BIGINT) AS den,
         CAST(count(*) AS BIGINT) AS n1p
  FROM t4 GROUP BY lang, ctx),
t3 AS MATERIALIZED (
  SELECT lang, substr(ctx, instr(ctx, ' ') + 1) AS ctx, w,
         CAST(count(*) AS BIGINT) AS nn
  FROM t4 GROUP BY 1, 2, 3),
den3 AS MATERIALIZED (
  SELECT lang, ctx, CAST(SUM(nn) AS BIGINT) AS den,
         CAST(count(*) AS BIGINT) AS n1p
  FROM t3 GROUP BY lang, ctx),
t2 AS MATERIALIZED (
  SELECT lang, substr(ctx, instr(ctx, ' ') + 1) AS ctx, w,
         CAST(count(*) AS BIGINT) AS nn
  FROM t3 GROUP BY 1, 2, 3),
den2 AS MATERIALIZED (
  SELECT lang, ctx, CAST(SUM(nn) AS BIGINT) AS den,
         CAST(count(*) AS BIGINT) AS n1p
  FROM t2 GROUP BY lang, ctx),
t1 AS MATERIALIZED (
  SELECT lang, w, CAST(count(*) AS BIGINT) AS nn
  FROM t2 GROUP BY lang, w),
scal AS MATERIALIZED (
  SELECT lang, CAST(SUM(nn) AS BIGINT) AS n1tot,
         CAST(count(*) AS BIGINT) AS V
  FROM t1 GROUP BY lang),
j AS (
  SELECT t5.lang, t5.ctx, t5.w, t5.c,
         den5.den AS ch, den5.n1p AS n1p5,
         t4.nn AS nn4, den4.den AS dn4, den4.n1p AS n1p4,
         t3.nn AS nn3, den3.den AS dn3, den3.n1p AS n1p3,
         t2.nn AS nn2, den2.den AS dn2, den2.n1p AS n1p2,
         t1.nn AS nn1, scal.n1tot, scal.V
  FROM t5
  JOIN den5 ON den5.lang = t5.lang AND den5.ctx = t5.ctx
  JOIN t4 ON t4.lang = t5.lang
         AND t4.ctx = substr(t5.ctx, instr(t5.ctx, ' ') + 1)
         AND t4.w = t5.w
  JOIN den4 ON den4.lang = t5.lang AND den4.ctx = t4.ctx
  JOIN t3 ON t3.lang = t5.lang
         AND t3.ctx = substr(t4.ctx, instr(t4.ctx, ' ') + 1)
         AND t3.w = t5.w
  JOIN den3 ON den3.lang = t5.lang AND den3.ctx = t3.ctx
  JOIN t2 ON t2.lang = t5.lang
         AND t2.ctx = substr(t3.ctx, instr(t3.ctx, ' ') + 1)
         AND t2.w = t5.w
  JOIN den2 ON den2.lang = t5.lang AND den2.ctx = t2.ctx
  JOIN t1 ON t1.lang = t5.lang AND t1.w = t5.w
  JOIN scal ON scal.lang = t5.lang
),
p1c AS (SELECT *,
          CAST(nn1 + 1 AS DOUBLE) / CAST(n1tot + V AS DOUBLE) AS p1
        FROM j),
p2c AS (SELECT *,
          ((CAST(nn2 AS DOUBLE) - 0.75) / CAST(dn2 AS DOUBLE))
          + ((0.75 * CAST(n1p2 AS DOUBLE)) / CAST(dn2 AS DOUBLE)) * p1
            AS p2
        FROM p1c),
p3c AS (SELECT *,
          ((CAST(nn3 AS DOUBLE) - 0.75) / CAST(dn3 AS DOUBLE))
          + ((0.75 * CAST(n1p3 AS DOUBLE)) / CAST(dn3 AS DOUBLE)) * p2
            AS p3
        FROM p2c),
p4c AS (SELECT *,
          ((CAST(nn4 AS DOUBLE) - 0.75) / CAST(dn4 AS DOUBLE))
          + ((0.75 * CAST(n1p4 AS DOUBLE)) / CAST(dn4 AS DOUBLE)) * p3
            AS p4
        FROM p3c),
prob AS MATERIALIZED (
  SELECT lang, ctx, w,
         ((CAST(c AS DOUBLE) - 0.75) / CAST(ch AS DOUBLE))
         + ((0.75 * CAST(n1p5 AS DOUBLE)) / CAST(ch AS DOUBLE)) * p4
           AS p
  FROM p4c),
scored AS (
  SELECT doc_id,
         floor(-ln(p) * 1000000.0) / 1000000.0 AS q
  FROM inst JOIN prob USING (lang, ctx, w)
),
s AS (
  SELECT doc_id, count(*) AS n_tok,
         round(CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
           AS nll
  FROM scored GROUP BY doc_id
),
nlls AS (
  SELECT langs.doc_id AS doc_id, langs.lang AS lang,
         coalesce(n_tok, 0) AS n_tok,
         coalesce(nll, 0.0) AS nll
  FROM langs LEFT JOIN s USING (doc_id)
)"""

_KN5_LANG_LM = (
    """WITH langs AS MATERIALIZED ("""
    + ORACLES["lang_id_script_docs"]
    + """),
d AS MATERIALIZED (
  SELECT documents.doc_id AS doc_id, langs.lang AS lang,
         {toks} AS toks
  FROM documents JOIN langs ON langs.doc_id = documents.doc_id),
"""
    + _KN5_KEYED_TAIL
).replace("{toks}", _TOKS)

# thresholds self-calibrate on the scored snapshot: head = per-lang
# mean NLL (exact decimal sum, matching Spark's _dec_sum discipline),
# tail = round(mean * 1.15, 4) — identical expression order to
# ccnet_per_lang_filter so both engines derive identical constants
ORACLES["ccnet_per_lang_filter_docs"] = _KN5_LANG_LM + """,
thrm AS (
  SELECT lang,
         round(CAST(SUM(CAST(nll AS DECIMAL(18,6))) AS DOUBLE)
               / count(*), 4) AS m
  FROM nlls GROUP BY lang),
thr AS (
  SELECT lang, m AS head_nll, round(m * 1.15, 4) AS tail_nll
  FROM thrm)
SELECT nlls.doc_id AS doc_id, nlls.lang AS lang, n_tok, nll,
       CASE WHEN nll <= head_nll THEN 'head'
            WHEN nll <= tail_nll THEN 'middle'
            ELSE 'tail' END AS bucket
FROM nlls JOIN thr ON thr.lang = nlls.lang
WHERE nll <= tail_nll
"""

# Frozen order-5 KN model (trained on the even-doc_id half) scoring
# ALL docs: LEFT joins + CASE chains reproduce _kn_attach_p's guarded
# backoff ladder step for step — a missing level backs off wholesale
# (CASE WHEN den IS NULL THEN prev), a seen context with an unseen
# word keeps only the redistribution term (COALESCE(term, 0.0)).
ORACLES["streaming_kn5_filter_docs"] = f"""
WITH d AS (SELECT doc_id, {{toks}} AS toks FROM documents),
ii AS (SELECT doc_id, toks,
              unnest(generate_series(1, len(toks))) AS i
       FROM d),
inst AS (
  SELECT doc_id,
         array_to_string(list_slice(
           list_concat(['<s>', '<s>', '<s>', '<s>'], toks), i, i + 3
         ), ' ') AS ctx,
         toks[i] AS w
  FROM ii
),
tinst AS (SELECT * FROM inst WHERE doc_id % 2 = 0),
t5 AS (SELECT ctx, w, count(*) AS c FROM tinst GROUP BY ctx, w),
den5 AS (SELECT ctx, CAST(SUM(c) AS BIGINT) AS den,
                CAST(count(*) AS BIGINT) AS n1p
         FROM t5 GROUP BY ctx),
t4 AS (SELECT substr(ctx, instr(ctx, ' ') + 1) AS ctx, w,
              CAST(count(*) AS BIGINT) AS nn
       FROM t5 GROUP BY 1, 2),
den4 AS (SELECT ctx, CAST(SUM(nn) AS BIGINT) AS den,
                CAST(count(*) AS BIGINT) AS n1p
         FROM t4 GROUP BY ctx),
t3 AS (SELECT substr(ctx, instr(ctx, ' ') + 1) AS ctx, w,
              CAST(count(*) AS BIGINT) AS nn
       FROM t4 GROUP BY 1, 2),
den3 AS (SELECT ctx, CAST(SUM(nn) AS BIGINT) AS den,
                CAST(count(*) AS BIGINT) AS n1p
         FROM t3 GROUP BY ctx),
t2 AS (SELECT substr(ctx, instr(ctx, ' ') + 1) AS ctx, w,
              CAST(count(*) AS BIGINT) AS nn
       FROM t3 GROUP BY 1, 2),
den2 AS (SELECT ctx, CAST(SUM(nn) AS BIGINT) AS den,
                CAST(count(*) AS BIGINT) AS n1p
         FROM t2 GROUP BY ctx),
t1 AS (SELECT w, CAST(count(*) AS BIGINT) AS nn FROM t2 GROUP BY w),
scal AS (SELECT (SELECT CAST(SUM(nn) AS BIGINT) FROM t1) AS n1tot,
                (SELECT CAST(count(*) AS BIGINT) FROM t1) AS V),
ictx AS (
  SELECT doc_id, ctx AS ctx5, w,
         substr(ctx, instr(ctx, ' ') + 1) AS ctx4
  FROM inst
),
ictx2 AS (SELECT *, substr(ctx4, instr(ctx4, ' ') + 1) AS ctx3 FROM ictx),
ictx3 AS (SELECT *, substr(ctx3, instr(ctx3, ' ') + 1) AS ctx2 FROM ictx2),
j AS (
  SELECT i.doc_id, i.w,
         t5.c, den5.den AS ch, den5.n1p AS n1p5,
         t4.nn AS nn4, den4.den AS dn4, den4.n1p AS n1p4,
         t3.nn AS nn3, den3.den AS dn3, den3.n1p AS n1p3,
         t2.nn AS nn2, den2.den AS dn2, den2.n1p AS n1p2,
         t1.nn AS nn1, scal.n1tot, scal.V
  FROM ictx3 i
  LEFT JOIN t5 ON t5.ctx = i.ctx5 AND t5.w = i.w
  LEFT JOIN den5 ON den5.ctx = i.ctx5
  LEFT JOIN t4 ON t4.ctx = i.ctx4 AND t4.w = i.w
  LEFT JOIN den4 ON den4.ctx = i.ctx4
  LEFT JOIN t3 ON t3.ctx = i.ctx3 AND t3.w = i.w
  LEFT JOIN den3 ON den3.ctx = i.ctx3
  LEFT JOIN t2 ON t2.ctx = i.ctx2 AND t2.w = i.w
  LEFT JOIN den2 ON den2.ctx = i.ctx2
  LEFT JOIN t1 ON t1.w = i.w
  CROSS JOIN scal
),
p1c AS (SELECT *,
          CAST(COALESCE(nn1, 0) + 1 AS DOUBLE)
            / CAST(n1tot + V AS DOUBLE) AS p1
        FROM j),
p2c AS (SELECT *,
          CASE WHEN dn2 IS NULL THEN p1 ELSE
            COALESCE((CAST(nn2 AS DOUBLE) - 0.75)
                       / CAST(dn2 AS DOUBLE), 0.0)
            + ((0.75 * CAST(n1p2 AS DOUBLE)) / CAST(dn2 AS DOUBLE)) * p1
          END AS p2
        FROM p1c),
p3c AS (SELECT *,
          CASE WHEN dn3 IS NULL THEN p2 ELSE
            COALESCE((CAST(nn3 AS DOUBLE) - 0.75)
                       / CAST(dn3 AS DOUBLE), 0.0)
            + ((0.75 * CAST(n1p3 AS DOUBLE)) / CAST(dn3 AS DOUBLE)) * p2
          END AS p3
        FROM p2c),
p4c AS (SELECT *,
          CASE WHEN dn4 IS NULL THEN p3 ELSE
            COALESCE((CAST(nn4 AS DOUBLE) - 0.75)
                       / CAST(dn4 AS DOUBLE), 0.0)
            + ((0.75 * CAST(n1p4 AS DOUBLE)) / CAST(dn4 AS DOUBLE)) * p3
          END AS p4
        FROM p3c),
pf AS (SELECT doc_id,
         CASE WHEN ch IS NULL THEN p4 ELSE
           COALESCE((CAST(c AS DOUBLE) - 0.75)
                      / CAST(ch AS DOUBLE), 0.0)
           + ((0.75 * CAST(n1p5 AS DOUBLE)) / CAST(ch AS DOUBLE)) * p4
         END AS p
       FROM p4c),
scored AS (
  SELECT doc_id,
         floor(-ln(p) * 1000000.0) / 1000000.0 AS q
  FROM pf
),
s AS (
  SELECT doc_id, count(*) AS n_tok,
         round(CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
           AS nll
  FROM scored GROUP BY doc_id
),
nlls AS (
  SELECT dd.doc_id,
         coalesce(n_tok, 0) AS n_tok,
         coalesce(nll, 0.0) AS nll
  FROM documents dd LEFT JOIN s USING (doc_id)
)
SELECT doc_id, n_tok, nll,
       CASE WHEN nll <= 1.50 THEN 'head'
            WHEN nll <= 3.76 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM nlls
WHERE nll <= 3.76
""".replace("{toks}", _TOKS)

ORACLES["kn_perplexity_docs"] = _KN_BIGRAM_LM + """,
scored AS (
  SELECT doc_id,
         floor(-ln(p) * 1000000.0) / 1000000.0 AS q
  FROM pairs JOIN prob USING (prev, w)
),
s AS (
  SELECT doc_id, count(*) AS n_tok,
         round(CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
           AS nll
  FROM scored GROUP BY doc_id
)
SELECT dd.doc_id,
       coalesce(n_tok, 0) AS n_tok,
       coalesce(nll, 0.0) AS nll
FROM documents dd LEFT JOIN s USING (doc_id)
"""

ORACLES["bigram_lm_docs"] = _BIGRAM_LM + """
SELECT prev, w, c,
       CAST(floor(p * 1000000.0) AS BIGINT) AS prob_micros
FROM prob
ORDER BY c DESC, prev, w
LIMIT 200
"""

ORACLES["perplexity_docs"] = _DOC_NLL + """
SELECT doc_id, n_tok, nll FROM nlls
"""

ORACLES["ppl_filter_docs"] = _DOC_NLL + """
SELECT doc_id, n_tok, nll,
       CASE WHEN nll <= 3.37 THEN 'head' ELSE 'middle' END AS bucket
FROM nlls
WHERE nll <= 3.41
"""

ORACLES["unigram_surprise_docs"] = f"""
WITH inst AS (SELECT doc_id, unnest({_TOKS}) AS t FROM documents),
vocab AS (SELECT t, count(*) AS c FROM inst GROUP BY t),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS N FROM vocab),
j AS (
  SELECT doc_id,
         floor(1000000.0 * CAST(N AS DOUBLE) / c) / 1000000.0 AS q
  FROM inst JOIN vocab USING (t) CROSS JOIN tot
),
s AS (
  SELECT doc_id, count(*) AS n_tok,
         round(CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
           AS surprise
  FROM j GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(n_tok, 0) AS n_tok,
       coalesce(surprise, 0.0) AS surprise
FROM documents d LEFT JOIN s USING (doc_id)
"""

ORACLES["corpus_diff_docs"] = """
WITH old AS (SELECT doc_id, md5(text) AS ho FROM documents),
new AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' updated' ELSE text END)
           AS hn
  FROM documents WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + 1000000, md5(text) FROM documents WHERE doc_id % 11 = 0
)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN ho = hn THEN 'unchanged'
            ELSE 'changed' END AS status
FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
"""

# incremental curation sink: the oracle is the FULL recompute of the
# curated version-2 corpus — equality proves incremental == batch
ORACLES["incremental_curation_sink"] = f"""
WITH newv AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' updated' ELSE text END AS text
  FROM documents WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 11 = 0
),
c AS (SELECT doc_id, text, len({_TOKS}) AS n_tok FROM newv)
SELECT doc_id, md5(text) AS content_md5, CAST(n_tok AS BIGINT) AS n_tok
FROM c WHERE n_tok >= 40
"""

ORACLES["dup_span_docs"] = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(toks[i:i+7], ' ')) AS gh
  FROM d, unnest(generate_series(1, len(toks) - 7)) AS t(i)
),
dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
h AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)),
c AS (
  SELECT doc_id,
         least(8, coalesce(
           lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos, 8
         )) AS cov
  FROM h
),
cov AS (SELECT doc_id, sum(cov) AS dup_tok FROM c GROUP BY doc_id)
SELECT d.doc_id,
       CAST(len(toks) AS BIGINT) AS n_tok,
       CAST(coalesce(dup_tok, 0) AS BIGINT) AS dup_tok,
       CASE WHEN len(toks) = 0 THEN 0.0
            ELSE round(CAST(coalesce(dup_tok, 0) AS DOUBLE) / len(toks), 6)
       END AS dup_ratio
FROM d LEFT JOIN cov USING (doc_id)
"""

ORACLES["cut_dup_span_docs"] = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(toks[i:i+7], ' ')) AS gh
  FROM d, unnest(generate_series(1, len(toks) - 7)) AS t(i)
),
dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
h AS (SELECT doc_id, pos, 1 AS st FROM g JOIN dup USING (gh)),
tok AS (
  SELECT doc_id, i AS p, toks[i] AS tok
  FROM d, unnest(generate_series(1, len(toks))) AS t(i)
),
cv AS (
  SELECT tok.doc_id, tok.p, tok.tok,
         max(coalesce(h.st, 0)) OVER (
           PARTITION BY tok.doc_id ORDER BY tok.p
           ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS cov
  FROM tok LEFT JOIN h ON tok.doc_id = h.doc_id AND tok.p = h.pos
),
asm AS (
  SELECT doc_id, count(*) AS kept_tok,
         string_agg(tok, ' ' ORDER BY p) AS text_cut
  FROM cv WHERE cov = 0 GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(toks) AS BIGINT) AS n_tok,
       CAST(coalesce(kept_tok, 0) AS BIGINT) AS kept_tok,
       coalesce(text_cut, '') AS text_cut
FROM d LEFT JOIN asm USING (doc_id)
"""

def _cut_pass_cte(src: str, out: str) -> str:
    """One ExactSubstr cut pass as chained CTEs: ``src`` holds
    (doc_id, toks); emits ``{out}`` with (doc_id, n_tok, kept_tok,
    text_cut). Same arithmetic as the driver-green cut_dup_span_docs
    oracle, parameterized so the fixpoint row can chain two passes."""
    return f"""
{out}_g AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(toks[i:i+7], ' ')) AS gh
  FROM {src}, unnest(generate_series(1, len(toks) - 7)) AS t(i)
),
{out}_dup AS (SELECT gh FROM {out}_g GROUP BY gh HAVING count(*) >= 2),
{out}_h AS (SELECT doc_id, pos, 1 AS st
            FROM {out}_g JOIN {out}_dup USING (gh)),
{out}_tok AS (
  SELECT doc_id, i AS p, toks[i] AS tok
  FROM {src}, unnest(generate_series(1, len(toks))) AS t(i)
),
{out}_cv AS (
  SELECT tk.doc_id, tk.p, tk.tok,
         max(coalesce(h.st, 0)) OVER (
           PARTITION BY tk.doc_id ORDER BY tk.p
           ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS cov
  FROM {out}_tok tk
  LEFT JOIN {out}_h h ON tk.doc_id = h.doc_id AND tk.p = h.pos
),
{out}_asm AS (
  SELECT doc_id, count(*) AS kept_tok,
         string_agg(tok, ' ' ORDER BY p) AS text_cut
  FROM {out}_cv WHERE cov = 0 GROUP BY doc_id
),
{out} AS (
  SELECT {src}.doc_id, len(toks) AS n_tok,
         coalesce(kept_tok, 0) AS kept_tok,
         coalesce(text_cut, '') AS text_cut
  FROM {src} LEFT JOIN {out}_asm USING (doc_id)
)"""


ORACLES["cut_dup_span_fixpoint_docs"] = f"""
WITH d1 AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
{_cut_pass_cte('d1', 'p1')},
d2r AS (SELECT doc_id, text_cut AS text FROM p1),
d2 AS (SELECT doc_id, {_TOKS} AS toks FROM d2r),
{_cut_pass_cte('d2', 'p2')}
SELECT p1.doc_id,
       CAST(p1.n_tok AS BIGINT) AS n_tok,
       CAST(p1.kept_tok AS BIGINT) AS kept_p1,
       CAST(p2.kept_tok AS BIGINT) AS kept_p2,
       (p1.text_cut = p2.text_cut) AS is_fixpoint
FROM p1 JOIN p2 USING (doc_id)
"""


ORACLES["cut_span_pipeline_docs"] = rf"""
WITH d AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
m AS (
  SELECT doc_id, text, toks,
    {', '.join(f'{_hits(lang)} AS s_{lang}' for lang in sorted(_LANGS))},
    CASE WHEN len(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok,
    CASE WHEN len(text) = 0 THEN 0.0
         ELSE CAST(len(regexp_replace(text, '{_PUNCT}', '', 'g')) AS DOUBLE)
              / len(text) END AS praw
  FROM d
), q AS (
  SELECT *,
    CASE WHEN n_tok = 0 THEN 0.0
         ELSE CAST(s_en AS DOUBLE) / n_tok END AS sraw,
    CASE WHEN len(text) >= 100 AND len(text) <= 4000 THEN 1.0
         WHEN len(text) < 100 THEN CAST(len(text) AS DOUBLE) / 100.0
         ELSE 4000.0 / CAST(len(text) AS DOUBLE) END AS len_score
  FROM m
), scored AS (
  SELECT doc_id, toks,
    {_LANG_CASE} AS lang_pred,
    round(len_score * 0.5 + (1.0 - least(praw * 5.0, 1.0)) * 0.25
          + least(sraw * 10.0, 1.0) * 0.25, 6) AS quality
  FROM q
), d1 AS (
  SELECT doc_id, toks FROM scored
  WHERE lang_pred = 'en' AND quality >= 0.5
),
{_cut_pass_cte('d1', 'p1')},
c AS (
  SELECT doc_id, kept_tok AS n_tok,
         SUM(kept_tok) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum
  FROM p1
)
SELECT CAST(floor((cum - n_tok) / 512) AS BIGINT) AS first_pack,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM c GROUP BY CAST(floor((cum - n_tok) / 512) AS BIGINT)
"""

ORACLES["bm25_topk_docs"] = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
lens AS (SELECT doc_id, len(toks) AS dl FROM d),
corp AS (SELECT count(*) AS N, CAST(sum(dl) AS BIGINT) AS sumdl FROM lens),
q AS (
  SELECT doc_id AS query_id, list_distinct(toks[1:5]) AS qt
  FROM d WHERE doc_id % 97 = 0
),
qterm AS (SELECT query_id, unnest(qt) AS t FROM q),
inst AS (SELECT doc_id, unnest(toks) AS t FROM d),
tf AS (
  SELECT doc_id, t, count(*) AS tf FROM inst
  WHERE t IN (SELECT DISTINCT t FROM qterm)
  GROUP BY doc_id, t
),
dft AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
s AS (
  SELECT qterm.query_id, tf.doc_id,
    floor(1000000.0 * (
      ((CAST(N AS DOUBLE) - df + 0.5) / (df + 0.5))
      * (CAST(tf AS DOUBLE) * 2.2)
      / (CAST(tf AS DOUBLE)
         + 1.2 * (0.25
                  + 0.75 * CAST(dl AS DOUBLE)
                    / (CAST(sumdl AS DOUBLE) / N)))
    )) / 1000000.0 AS q6
  FROM tf
  JOIN dft USING (t)
  JOIN lens ON tf.doc_id = lens.doc_id
  CROSS JOIN corp
  JOIN qterm ON qterm.t = tf.t
),
agg AS (
  SELECT query_id, doc_id,
         round(CAST(SUM(CAST(q6 AS DECIMAL(18,6))) AS DOUBLE), 6) AS score
  FROM s GROUP BY query_id, doc_id
),
r AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS rank
  FROM agg
)
SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 10
"""

# quality-only scoring CTEs (the text_metrics quality formula, same
# fragments as corpus_curation's oracle, under collision-free names)
_QUALITY_CTES = rf"""
dq AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
mq AS (
  SELECT doc_id, text,
    {_hits('en')} AS s_en,
    CASE WHEN len(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok,
    CASE WHEN len(text) = 0 THEN 0.0
         ELSE CAST(len(regexp_replace(text, '{_PUNCT}', '', 'g')) AS DOUBLE)
              / len(text) END AS praw
  FROM dq
), qq AS (
  SELECT *,
    CASE WHEN n_tok = 0 THEN 0.0
         ELSE CAST(s_en AS DOUBLE) / n_tok END AS sraw,
    CASE WHEN len(text) >= 100 AND len(text) <= 4000 THEN 1.0
         WHEN len(text) < 100 THEN CAST(len(text) AS DOUBLE) / 100.0
         ELSE 4000.0 / CAST(len(text) AS DOUBLE) END AS len_score
  FROM mq
), qscore AS (
  SELECT doc_id,
    round(len_score * 0.5 + (1.0 - least(praw * 5.0, 1.0)) * 0.25
          + least(sraw * 10.0, 1.0) * 0.25, 6) AS quality
  FROM qq
)"""

# hybrid fusion nests the full BM25 oracle (defined just above) as its
# sparse CTE; the placeholder keeps the hybrid SQL readable at its
# definition site next to the other retrieval oracles
ORACLES["hybrid_retrieval_docs"] = ORACLES["hybrid_retrieval_docs"].replace(
    "{BM25}", ORACLES["bm25_topk_docs"]
)

ORACLES["neardup_canonical_docs"] = f"""
WITH RECURSIVE {_SHINGLE_CTE.strip().rstrip()},
sigs AS (SELECT doc_id, {_sig_list(16)} AS sig FROM s),
buckets AS ({_BUCKETS}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sig AS sig_a, b.sig AS sig_b
  FROM buckets a JOIN buckets b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
      round(list_sum(list_transform(generate_series(1, 16),
        i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) / 16.0, 6)
        AS jaccard
    FROM cand
  ) WHERE jaccard >= 0.3
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(a, b) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
),
clusters AS (SELECT a AS id, MIN(b) AS cluster_id FROM reach GROUP BY a),
{_QUALITY_CTES.strip().lstrip()},
member AS (
  SELECT c.id AS doc_id, c.cluster_id, s.quality
  FROM clusters c JOIN qscore s ON c.id = s.doc_id
),
canon AS (
  SELECT doc_id, cluster_id, quality FROM member
  QUALIFY row_number() OVER (
    PARTITION BY cluster_id ORDER BY quality DESC, doc_id ASC) = 1
),
singles AS (
  SELECT s.doc_id, s.doc_id AS cluster_id, s.quality
  FROM qscore s LEFT JOIN clusters c ON s.doc_id = c.id
  WHERE c.id IS NULL
)
SELECT * FROM canon UNION ALL SELECT * FROM singles
"""

ORACLES["bpe_merge_candidates_docs"] = f"""
WITH vocab AS (
  SELECT w, count(*) AS wc
  FROM (SELECT unnest({_TOKS}) AS w FROM documents)
  GROUP BY w
),
prs AS (
  SELECT pair, CAST(SUM(wc) AS BIGINT) AS total
  FROM (
    SELECT wc, unnest(
      CASE WHEN len(w) >= 2
           THEN list_transform(generate_series(1, len(w) - 1),
                               i -> w[i:i+1])
           ELSE CAST([] AS VARCHAR[]) END
    ) AS pair
    FROM vocab
  )
  GROUP BY pair
)
SELECT pair, total,
       CAST(row_number() OVER (ORDER BY total DESC, pair ASC) AS INT)
         AS rank
FROM prs
QUALIFY rank <= 50
"""

def _bpe_merges_sql(
    n_merges: int = 3, *, p: str = "", corpus: str | None = None
) -> str:
    """Unrolled iterative-BPE rounds: per round a pair-count CTE, a
    deterministic argmax CTE, and a greedy left-to-right merge rewrite
    (run-group window discipline — identical relational steps to
    ``curation.bpe_merges``). ``p`` prefixes every CTE name so the
    chain composes into larger oracles without collisions; ``corpus``
    overrides the tokenized source (a SQL body selecting
    ``(doc_id, source, toks)``; default = the documents table)."""
    if corpus is None:
        corpus = f"SELECT doc_id, source, {_TOKS} AS toks FROM documents"
    parts = [
        # MATERIALIZED on the hubs: src feeds the vocab, the word
        # instances and the encode left-join, v feeds every merge
        # round — when the corpus is itself a deep CTE chain (the v10
        # composition), DuckDB's re-inlining would otherwise replay
        # that chain per reference (the KN5 lesson)
        f"WITH {p}src AS MATERIALIZED ({corpus}),",
        f"{p}v AS MATERIALIZED (SELECT w, count(*) AS wc FROM "
        f"(SELECT unnest(toks) AS w FROM {p}src) GROUP BY w),",
        f"{p}r1 AS (SELECT w, wc, i AS p, w[i:i] AS sym "
        f"FROM {p}v, unnest(generate_series(1, len(w))) AS t(i))",
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f", {p}pr{r} AS (SELECT w, wc, p, sym,"
            f" lead(sym) OVER (PARTITION BY w ORDER BY p) AS nxt FROM {p}r{r})"
            f", {p}cnt{r} AS (SELECT sym, nxt, CAST(SUM(wc) AS BIGINT) AS total"
            f" FROM {p}pr{r} WHERE nxt IS NOT NULL GROUP BY sym, nxt)"
            f", {p}top{r} AS (SELECT sym AS pa, nxt AS pb, total FROM {p}cnt{r}"
            f" ORDER BY total DESC, sym ASC, nxt ASC LIMIT 1)"
            f", {p}cand{r} AS (SELECT {p}pr{r}.w, {p}pr{r}.p FROM {p}pr{r}, {p}top{r}"
            f" WHERE {p}pr{r}.sym = {p}top{r}.pa AND {p}pr{r}.nxt = {p}top{r}.pb)"
            f", {p}taken{r} AS (SELECT w, p FROM ("
            f"  SELECT w, p, p - min(p) OVER (PARTITION BY w, grp) AS off"
            f"  FROM (SELECT w, p, p - row_number() OVER"
            f"   (PARTITION BY w ORDER BY p) AS grp FROM {p}cand{r})"
            f" ) WHERE off % 2 = 0)"
            f", {p}r{r + 1} AS ("
            f" SELECT w, wc, row_number() OVER (PARTITION BY w ORDER BY p)"
            f"  AS p, sym FROM ("
            f"  SELECT pr.w, pr.wc, pr.p,"
            f"   CASE WHEN tk.p IS NOT NULL THEN t.pa || t.pb"
            f"        ELSE pr.sym END AS sym"
            f"  FROM {p}pr{r} pr LEFT JOIN {p}top{r} t ON TRUE"
            f"  LEFT JOIN {p}taken{r} tk ON pr.w = tk.w AND pr.p = tk.p"
            f"  LEFT JOIN {p}taken{r} dr ON pr.w = dr.w AND pr.p = dr.p + 1"
            f"  WHERE dr.p IS NULL))"
        )
    sel = "\nUNION ALL ".join(
        f"SELECT {r} AS round, pa AS pair_a, pb AS pair_b, total"
        f" FROM {p}top{r}"
        for r in range(1, n_merges + 1)
    )
    return "\n".join(parts) + "\n" + sel


def _bpe_token_counts_sql(n_merges: int = 3) -> str:
    """Tokenizer APPLICATION: the same unrolled merge rounds, then
    per-word symbol counts joined back to the corpus's word instances
    — a document's BPE token count without re-segmenting any text."""
    head = _bpe_merges_sql(n_merges)
    head = head[: head.index("\nSELECT 1 AS round")]  # keep the CTE chain
    final = n_merges + 1
    return f"""{head}
, wsym AS (SELECT w, count(*) AS n_sym FROM r{final} GROUP BY w),
inst AS (SELECT doc_id, unnest(toks) AS w FROM src),
cnt AS (
  SELECT doc_id, count(*) AS n_words,
         CAST(SUM(n_sym) AS BIGINT) AS n_bpe
  FROM inst JOIN wsym USING (w) GROUP BY doc_id
)
SELECT src.doc_id,
       CAST(coalesce(n_words, 0) AS BIGINT) AS n_words,
       CAST(coalesce(n_bpe, 0) AS BIGINT) AS n_bpe_tokens
FROM src LEFT JOIN cnt USING (doc_id)
"""


ORACLES["bpe_merges_docs"] = _bpe_merges_sql(3)
ORACLES["bpe_token_counts_docs"] = _bpe_token_counts_sql(3)


def _bpe_encode_cte(
    n_merges: int = 3, *, p: str = "", corpus: str | None = None
) -> str:
    """The encode-to-ids CTE chain: the unrolled merge rounds, the
    vocab id table (base alphabet 0..C-1 lexicographic, then one id
    per merge in rank order, duplicate merge strings keep their first
    producer's id — ``curation._bpe_sym_ids``), the per-vocab-word id
    sequences, and per-document id arrays reassembled in word order.
    Ends with an ``{p}enc(doc_id, source, tid, n_tok)`` CTE; ``p``
    and ``corpus`` as in :func:`_bpe_merges_sql`."""
    head = _bpe_merges_sql(n_merges, p=p, corpus=corpus)
    head = head[: head.index("\nSELECT 1 AS round")]
    final = n_merges + 1
    merge_union = "\n    UNION ALL ".join(
        f"SELECT {r} AS rnd, pa, pb FROM {p}top{r}"
        for r in range(1, n_merges + 1)
    )
    return f"""{head}
, {p}vchars AS (
  SELECT DISTINCT w[i:i] AS sym
  FROM {p}v, unnest(generate_series(1, len(w))) AS t(i)),
{p}base_ids AS (
  SELECT sym, CAST(row_number() OVER (ORDER BY sym) - 1 AS BIGINT) AS tok_id
  FROM {p}vchars),
{p}nb AS (SELECT count(*) AS n FROM {p}base_ids),
{p}merge_ids AS (
  SELECT sym, min(tok_id) AS tok_id FROM (
    SELECT pa || pb AS sym,
           CAST((SELECT n FROM {p}nb) + rnd - 1 AS BIGINT) AS tok_id
    FROM ({merge_union}))
  GROUP BY sym),
{p}sym_ids AS (SELECT * FROM {p}base_ids UNION ALL SELECT * FROM {p}merge_ids),
{p}wseq AS MATERIALIZED (
  SELECT w, list(tok_id ORDER BY p) AS ids
  FROM {p}r{final} JOIN {p}sym_ids USING (sym) GROUP BY w),
{p}winst AS (
  SELECT doc_id, i AS wpos, toks[i] AS w
  FROM {p}src, unnest(generate_series(1, len(toks))) AS t(i)),
{p}denc AS (
  SELECT doc_id, flatten(list(ids ORDER BY wpos)) AS tid
  FROM {p}winst JOIN {p}wseq USING (w) GROUP BY doc_id),
{p}enc AS MATERIALIZED (
  SELECT {p}src.doc_id, {p}src.source,
         coalesce(tid, CAST([] AS BIGINT[])) AS tid,
         CAST(coalesce(len(tid), 0) AS BIGINT) AS n_tok
  FROM {p}src LEFT JOIN {p}denc USING (doc_id))"""


ORACLES["bpe_encode_docs"] = (
    _bpe_encode_cte(3)
    + """
SELECT doc_id, n_tok AS n_bpe_tokens, array_to_string(tid, ',') AS ids
FROM enc
"""
)

# Pack-contents tail shared by token_id_packs_docs and the v10 build:
# copy explode -> md5-shuffled stream cumsum -> spans cut at pack
# boundaries -> per-pack segments reassembled in stream-offset order
# (chunking.pack_schedule + chunking.pack_token_ids).
def _pack_ids_tail(p: str, seq_len: int, copies: str, enc: str) -> str:
    """``copies`` = SQL body selecting (doc_id, source, n_copies);
    ``enc`` = a CTE name carrying (doc_id, tid, n_tok). Emits the
    final SELECT (pack_id, n_tokens, n_segs, ids)."""
    return f""",
{p}cp AS ({copies}),
{p}ex AS (
  SELECT c.doc_id, c.source, e.n_tok AS n_tok, e.tid,
         CAST(copy AS BIGINT) AS copy
  FROM {p}cp c JOIN {enc} e ON e.doc_id = c.doc_id,
       unnest(generate_series(1, c.n_copies)) AS t(copy)
  WHERE c.n_copies > 0),
{p}ord AS (
  SELECT *, md5(source || '|' || CAST(doc_id AS VARCHAR)
                || '|' || CAST(copy AS VARCHAR)) AS ok
  FROM {p}ex),
{p}cum AS (
  SELECT *, CAST(SUM(n_tok) OVER (
      ORDER BY ok ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    AS BIGINT) AS cum
  FROM {p}ord),
{p}spans AS (
  SELECT doc_id, tid, cum - n_tok AS start_offset, n_tok,
         (cum - n_tok) // {seq_len} AS first_pack,
         greatest(cum - 1, cum - n_tok) // {seq_len} AS last_pack
  FROM {p}cum WHERE n_tok > 0),
{p}segs AS (
  SELECT pack_id, start_offset,
         tid[CAST(greatest(pack_id * {seq_len}, start_offset)
                  - start_offset + 1 AS BIGINT)
             : CAST(least((pack_id + 1) * {seq_len},
                          start_offset + n_tok)
                    - start_offset AS BIGINT)] AS seg
  FROM {p}spans,
       unnest(generate_series(first_pack, last_pack)) AS t(pack_id)),
{p}packs AS (
  SELECT pack_id, flatten(list(seg ORDER BY start_offset)) AS tid,
         CAST(count(*) AS BIGINT) AS n_segs
  FROM {p}segs GROUP BY pack_id)
SELECT pack_id, CAST(len(tid) AS BIGINT) AS n_tokens, n_segs,
       array_to_string(tid, ',') AS ids
FROM {p}packs
"""


# Packed shards with real token sequences: replication schedule over
# the encoded counts (n_copies = 1 + doc_id % 2), laid out and
# regrouped by the shared tail.
ORACLES["token_id_packs_docs"] = _bpe_encode_cte(3) + _pack_ids_tail(
    "tp_", 64, "SELECT doc_id, source, 1 + doc_id % 2 AS n_copies FROM enc",
    "enc",
)


# pollsource: kh constants are md5-derived per room (same formula as
# sources/pollsource.synth_poll_body), inlined at oracle-build time
import hashlib as _hashlib

_ROOMS7 = ["help", "global", "spoilers", "trade", "giveaways", "trivia", "staff"]
_ROOM_KH = ", ".join(
    f"('{r}', {int(_hashlib.md5(r.encode()).hexdigest()[:8], 16) % 997})"
    for r in _ROOMS7
)
_CHAT_FMT = (
    '<div class="chat-txt"><span>%02d:%02d:%02d AM</span>'
    '<div class="chip"><div class="chip-media">'
    '<img data-username=\"%s\" src=\"/img/emblems/e.png\"></div></div>'
    '<a href=\"javascript:delChat(%d)\">x</a>'
    '<i class=\"f7-icons\">flag</i><span>%s</span></div>'
)

ORACLES["streaming_poll_source"] = f"""
WITH ticks AS (SELECT unnest(generate_series(1, 120)) AS t),
rooms(key, kh) AS (VALUES {_ROOM_KH}),
base AS (
  SELECT t, TIMESTAMP '2023-11-14 22:13:20' + t * INTERVAL 1 SECOND AS fts
  FROM ticks
),
chat AS (
  SELECT 'chat' AS source, key, fts AS fetch_ts, 200 AS status,
         md5(printf('{_CHAT_FMT}',
             1 + t % 11, t % 60, (t * 7) % 60,
             'u' || CAST(t % 50 AS VARCHAR),
             t * 1000 + kh,
             'msg ' || CAST(t AS VARCHAR) || ' in ' || key)) AS body_digest
  FROM base CROSS JOIN rooms
),
flags AS (
  SELECT 'flags' AS source, key, fts AS fetch_ts, 200 AS status,
         md5('') AS body_digest
  FROM base CROSS JOIN rooms WHERE t % 30 = 0
),
mailbox AS (
  SELECT 'mailbox' AS source, CAST(NULL AS VARCHAR) AS key,
         fts AS fetch_ts, 200 AS status, md5('') AS body_digest
  FROM base WHERE t % 10 = 0
)
SELECT * FROM chat
UNION ALL SELECT * FROM flags
UNION ALL SELECT * FROM mailbox
"""

ORACLES["semantic_decontaminate_embeddings"] = f"""
WITH {_EMB},
ev AS (SELECT vec_id AS eval_id, v FROM u WHERE vec_id < 50),
c AS (SELECT vec_id, v FROM u WHERE vec_id >= 50)
SELECT c.vec_id, ev.eval_id, round({_dot('c.v', 'ev.v')}, 6) AS cosine
FROM c CROSS JOIN ev
WHERE round({_dot('c.v', 'ev.v')}, 6) >= 0.35
"""

def _random_projection_sql() -> str:
    planes = lsh_hyperplanes(64, 8)
    selects = [
        f"SELECT vec_id, CAST({p} AS INT) AS p, "
        f"round({_dot_lits('v', plane)}, 6) AS proj FROM e"
        for p, plane in enumerate(planes)
    ]
    body = "\nUNION ALL\n".join(selects)
    return f"WITH {_EMB}\n{body}"

ORACLES["random_projection_embeddings"] = _random_projection_sql()

ORACLES["quality_weighted_sample_docs"] = f"""
WITH {_QUALITY_CTES.strip().lstrip()},
drawn AS (
  SELECT doc_id, quality,
         round(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) / 4294967296.0, 6) AS u_draw
  FROM qscore
)
SELECT doc_id, quality, u_draw FROM drawn WHERE u_draw < quality
"""

ORACLES["streaming_corpus_ingest"] = rf"""
WITH {_QUALITY_CTES.strip().lstrip()},
arrivals AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000001, text FROM documents WHERE doc_id % 7 = 0
),
base AS (
  SELECT a.doc_id,
         md5(regexp_replace(lower(trim(a.text)), '\s+', ' ', 'g'))
           AS digest,
         s.quality
  FROM arrivals a JOIN qscore s
    ON (CASE WHEN a.doc_id >= 1000000 THEN a.doc_id - 1000001
             ELSE a.doc_id END) = s.doc_id
  WHERE s.quality >= 0.5
)
SELECT doc_id, quality FROM (
  SELECT doc_id, quality,
         row_number() OVER (
           PARTITION BY digest ORDER BY doc_id % 4, doc_id) AS rn
  FROM base
) WHERE rn = 1
"""

ORACLES["minhash_estimate_error_docs"] = f"""
WITH {_SHINGLE_CTE},
sigs AS (SELECT doc_id, {_sig_list(16)} AS sig FROM s),
buckets AS ({_BUCKETS}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sig AS sig_a, b.sig AS sig_b
  FROM buckets a JOIN buckets b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
est AS (
  SELECT id_a, id_b, est_jaccard FROM (
    SELECT id_a, id_b,
      round(list_sum(list_transform(generate_series(1, 16),
        i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) / 16.0, 6)
        AS est_jaccard
    FROM cand
  ) WHERE est_jaccard >= 0.3
),
ex AS (
  SELECT e.id_a, e.id_b, e.est_jaccard,
         CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
              ELSE round(
                CAST(len(list_distinct(
                  list_filter(a.sh, x -> list_contains(b.sh, x)))) AS DOUBLE)
                / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE),
                6)
         END AS exact_jaccard
  FROM est e JOIN s a ON a.doc_id = e.id_a JOIN s b ON b.doc_id = e.id_b
)
SELECT id_a, id_b, est_jaccard, exact_jaccard,
       round(abs(est_jaccard - exact_jaccard), 6) AS abs_err
FROM ex
"""

ORACLES["k_time_travel_sink"] = """
SELECT event_id, event_type, value, CAST(0 AS INT) AS version
FROM events WHERE event_id % 3 = 0
UNION ALL
SELECT event_id, event_type,
       CASE WHEN event_id % 5 = 0 THEN value + 100.0 ELSE value END AS value,
       CAST(1 AS INT) AS version
FROM events WHERE event_id % 3 = 0
"""

ORACLES["k_delete_tombstones_sink"] = """
SELECT event_id, event_type, value
FROM events WHERE event_id % 3 = 0 AND event_id % 7 <> 0
"""

def _pooled_semantic_dedup_sql() -> str:
    """mean_pool (integer micros) → pivot (sm / (1e6·n)) → 2-plane
    sign-LSH cells → lower-id semantic dedup, all replayed in DuckDB."""
    planes = lsh_hyperplanes(64, 2)
    bits = " || ".join(
        f"(CASE WHEN ({_dot_lits('rv', p)}) >= 0.0 THEN '1' ELSE '0' END)"
        for p in planes
    )
    return f"""
WITH em AS (
  SELECT vec_id // 8 AS group_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
),
inst AS (
  SELECT group_id, i - 1 AS p,
         CAST(floor(1000000.0 * v[i]) AS BIGINT) AS m
  FROM em, unnest(generate_series(1, 64)) AS t(i)
),
pool AS (
  SELECT group_id, p, CAST(SUM(m) AS BIGINT) AS sm, count(*) AS n
  FROM inst GROUP BY group_id, p
),
pv AS (
  SELECT group_id,
         list(CAST(sm AS DOUBLE) / (1000000.0 * n) ORDER BY p) AS rv
  FROM pool GROUP BY group_id
),
bl AS (SELECT group_id, rv, {bits} AS cluster FROM pv),
n0 AS (SELECT group_id, cluster, rv, sqrt({_sq('rv')}) AS nrm FROM bl),
n AS (
  SELECT group_id, cluster,
         CASE WHEN nrm = 0.0 THEN rv
              ELSE list_transform(rv, x -> x / nrm) END AS v
  FROM n0
),
dups AS (
  SELECT DISTINCT b.group_id FROM n a JOIN n b
    ON a.cluster = b.cluster AND a.group_id < b.group_id
  WHERE round(({_dot('a.v', 'b.v')}), 6) >= 0.25
)
SELECT group_id, cluster FROM n
WHERE NOT EXISTS (SELECT 1 FROM dups WHERE dups.group_id = n.group_id)
"""


ORACLES["pooled_semantic_dedup_embeddings"] = _pooled_semantic_dedup_sql()


def _training_pipeline_v2_sql() -> str:
    """gate → chunk → md5 chunk embeddings (dim 16) → integer-micros
    mean-pool → pivot → 2-plane sign-LSH cells → lower-id semantic
    dedup (cos ≥ 0.9) → cell-restricted eval decontamination, fully
    replayed in DuckDB. Every fragment mirrors a driver-green oracle:
    the gate from training_data_pipeline, chunk windows from
    chunk_documents, the embedder from embed_media_docs, pool/pivot/
    cells/dedup from pooled_semantic_dedup_embeddings."""
    planes = lsh_hyperplanes(16, 2)
    bits = " || ".join(
        f"(CASE WHEN ({_dot_lits('rv', p)}) >= 0.0 THEN '1' ELSE '0' END)"
        for p in planes
    )
    return rf"""
WITH d AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
m AS (
  SELECT doc_id, text, toks,
    {', '.join(f'{_hits(lang)} AS s_{lang}' for lang in sorted(_LANGS))},
    CASE WHEN len(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok,
    CASE WHEN len(text) = 0 THEN 0.0
         ELSE CAST(len(regexp_replace(text, '{_PUNCT}', '', 'g')) AS DOUBLE)
              / len(text) END AS praw
  FROM d
), q AS (
  SELECT *,
    CASE WHEN n_tok = 0 THEN 0.0
         ELSE CAST(s_en AS DOUBLE) / n_tok END AS sraw,
    CASE WHEN len(text) >= 100 AND len(text) <= 4000 THEN 1.0
         WHEN len(text) < 100 THEN CAST(len(text) AS DOUBLE) / 100.0
         ELSE 4000.0 / CAST(len(text) AS DOUBLE) END AS len_score
  FROM m
), scored AS (
  SELECT doc_id, toks,
    {_LANG_CASE} AS lang_pred,
    round(len_score * 0.5 + (1.0 - least(praw * 5.0, 1.0)) * 0.25
          + least(sraw * 10.0, 1.0) * 0.25, 6) AS quality
  FROM q
), sel AS (
  SELECT doc_id, toks, doc_id >= 250 AS is_train
  FROM scored
  WHERE doc_id < 250
     OR (lang_pred = 'en' AND quality >= 0.5 AND doc_id >= 250)
), ch AS (
  SELECT doc_id, is_train,
         array_to_string(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ')
           AS chunk
  FROM (SELECT doc_id, is_train, toks,
               unnest(generate_series(0,
                 CAST((greatest(len(toks) - 32, 0) + 23) // 24 AS INT)))
                 AS chunk_id
        FROM sel)
), emb AS (
  SELECT doc_id, is_train,
         list_transform(generate_series(0, 15), j ->
           CAST(CAST('0x' || substr(md5(md5(chunk) || '|'
                || CAST(j AS VARCHAR)), 1, 8)
                AS BIGINT) AS DOUBLE) / 4294967296.0 - 0.5) AS v
  FROM ch
), inst AS (
  SELECT doc_id, is_train, i - 1 AS p,
         CAST(floor(1000000.0 * v[i]) AS BIGINT) AS mm
  FROM emb, unnest(generate_series(1, 16)) AS t(i)
), pool AS (
  SELECT doc_id, is_train, p, CAST(SUM(mm) AS BIGINT) AS sm, count(*) AS n
  FROM inst GROUP BY doc_id, is_train, p
), pv AS (
  SELECT doc_id, is_train, max(n) AS n_chunks,
         list(CAST(sm AS DOUBLE) / (1000000.0 * n) ORDER BY p) AS rv
  FROM pool GROUP BY doc_id, is_train
), bl AS (SELECT doc_id, is_train, n_chunks, rv, {bits} AS cluster FROM pv),
n0 AS (SELECT *, sqrt({_sq('rv', 16)}) AS nrm FROM bl),
un AS (
  SELECT doc_id, is_train, n_chunks, cluster,
         CASE WHEN nrm = 0.0 THEN rv
              ELSE list_transform(rv, x -> x / nrm) END AS u
  FROM n0
),
tr AS (SELECT * FROM un WHERE is_train),
evq AS (SELECT * FROM un WHERE NOT is_train),
dups AS (
  SELECT DISTINCT b.doc_id FROM tr a JOIN tr b
    ON a.cluster = b.cluster AND a.doc_id < b.doc_id
  WHERE round(({_dot('a.u', 'b.u', 16)}), 6) >= 0.9
),
surv AS (SELECT * FROM tr
         WHERE NOT EXISTS (SELECT 1 FROM dups WHERE dups.doc_id = tr.doc_id)),
cont AS (
  SELECT DISTINCT s.doc_id FROM surv s JOIN evq e ON s.cluster = e.cluster
  WHERE round(({_dot('s.u', 'e.u', 16)}), 6) >= 0.9
)
SELECT s.doc_id, s.cluster, CAST(s.n_chunks AS BIGINT) AS n_chunks, sc.quality
FROM surv s JOIN scored sc ON s.doc_id = sc.doc_id
WHERE NOT EXISTS (SELECT 1 FROM cont WHERE cont.doc_id = s.doc_id)
"""


ORACLES["training_data_pipeline_v2"] = _training_pipeline_v2_sql()

ORACLES["mean_pool_embeddings"] = """
WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
inst AS (
  SELECT label, i - 1 AS p,
         CAST(floor(1000000.0 * v[i]) AS BIGINT) AS m
  FROM e, unnest(generate_series(1, 64)) AS t(i)
)
SELECT label, CAST(p AS INT) AS p,
       CAST(SUM(m) AS BIGINT) AS sum_micros,
       count(*) AS n
FROM inst GROUP BY label, p
"""

# --- r9: frozen-LM scoring, line dedup, URL curation, quality logit,
#     compaction, within-watermark dedup ----------------------------------

# CCNet frozen-LM regime: model trained on the even-doc_id half only;
# every document scored against it with add-one zero-count fallback
# (1/(c(prev)+V) for a known context, 1/V for an unseen one).
ORACLES["ppl_external_lm_docs"] = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
ii AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
       FROM d),
pairs AS (
  SELECT doc_id,
         CASE WHEN i = 1 THEN '<s>' ELSE toks[i-1] END AS prev,
         toks[i] AS w
  FROM ii
),
tpairs AS (SELECT * FROM pairs WHERE doc_id % 2 = 0),
cpw AS (SELECT prev, w, count(*) AS c FROM tpairs GROUP BY prev, w),
cp AS (SELECT prev, CAST(SUM(c) AS BIGINT) AS cp FROM cpw GROUP BY prev),
voc AS (SELECT count(DISTINCT w) AS V FROM tpairs),
prob AS (
  SELECT prev, w,
         CAST(c + 1 AS DOUBLE) / CAST(cp + V AS DOUBLE) AS p
  FROM cpw JOIN cp USING (prev) CROSS JOIN voc
),
scored AS (
  SELECT pairs.doc_id,
         floor(-ln(coalesce(
             p,
             CAST(1.0 AS DOUBLE) / CAST(cp + V AS DOUBLE),
             CAST(1.0 AS DOUBLE) / CAST(V AS DOUBLE)
           )) * 1000000.0) / 1000000.0 AS q
  FROM pairs
  LEFT JOIN prob USING (prev, w)
  LEFT JOIN cp USING (prev)
  CROSS JOIN voc
),
s AS (
  SELECT doc_id, count(*) AS n_tok,
         round(CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
           AS nll
  FROM scored GROUP BY doc_id
)
SELECT dd.doc_id, coalesce(n_tok, 0) AS n_tok, coalesce(nll, 0.0) AS nll
FROM documents dd LEFT JOIN s USING (doc_id)
"""

# Shared CTE chain for the C4/FineWeb oracles: decorated pages +
# per-page signals/ratios (see _docs_as_structured and
# operators/quality.c4_fineweb_signals).
_C4_PAGE_CTES = rf"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
st AS (
  SELECT doc_id,
    list_concat(
      CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
           ELSE list_transform(
             generate_series(0,
               CAST(ceil(CAST(len(toks) AS DOUBLE) / 8.0) AS BIGINT) - 1),
             j -> (CASE WHEN (doc_id + j) % 5 = 0 THEN '- ' ELSE '' END)
                  || array_to_string(toks[j*8+1:j*8+8], ' ')
                  || (CASE WHEN (doc_id + j) % 7 = 0 THEN '...' ELSE '.' END))
      END,
      list_filter([
        CASE WHEN doc_id % 2 = 0 THEN 'That is of the and to be with have.' END,
        CASE WHEN doc_id % 97 = 0 THEN 'lorem ipsum dolor sit.' END,
        CASE WHEN doc_id % 89 = 0 THEN 'var x = {{ javascript }}.' END
      ], x -> x IS NOT NULL)
    ) AS ls0
  FROM d
),
feat AS (
  SELECT doc_id,
    array_to_string(ls0, chr(10)) AS txt,
    string_split(array_to_string(ls0, chr(10)), chr(10)) AS ls,
    list_filter(string_split_regex(array_to_string(ls0, chr(10)), '\s+'),
                w -> w <> '') AS ws,
    list_distinct(list_transform(
      list_filter(string_split_regex(lower(array_to_string(ls0, chr(10))),
                                     '\s+'), w -> w <> ''),
      w -> regexp_replace(w, '[^a-z]', '', 'g'))) AS sc
  FROM st
),
agg AS (
  SELECT doc_id,
    CAST(len(ls) AS BIGINT) AS n_lines,
    CAST(len(ws) AS BIGINT) AS n_words,
    CAST(CASE WHEN len(ws) = 0 THEN 0 ELSE floor(
      list_aggregate(list_transform(ws, w -> len(w)), 'sum')
      * 1000000.0 / len(ws)) END AS BIGINT) AS mean_wlen_micros,
    CAST(len(list_filter(ls, l ->
      (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%"')
      AND NOT l LIKE '%...')) AS BIGINT) AS n_terminal_lines,
    CAST(len(list_filter(ls, l -> l LIKE '- %' OR l LIKE '* %'))
      AS BIGINT) AS n_bullet,
    CAST(len(list_filter(ls, l -> l LIKE '%...')) AS BIGINT) AS n_ellip,
    CAST(len(list_filter(ls, l -> regexp_matches(l, '[A-Za-z]')))
      AS BIGINT) AS n_alpha,
    CAST(len(list_intersect(sc,
      ['the','be','to','of','and','that','have','with'])) AS BIGINT)
      AS stop_hits,
    contains(lower(txt), 'lorem ipsum') AS has_lorem,
    contains(txt, '{{') AS has_brace,
    list_contains(sc, 'javascript') AS has_js
  FROM feat
),
r AS (
  SELECT doc_id, n_lines, n_words, mean_wlen_micros, n_terminal_lines,
    CAST(CASE WHEN n_lines = 0 THEN 0
         ELSE floor(n_terminal_lines * 1000000.0 / n_lines) END AS BIGINT)
      AS terminal_ratio_micros,
    CAST(CASE WHEN n_lines = 0 THEN 0
         ELSE floor(n_bullet * 1000000.0 / n_lines) END AS BIGINT)
      AS bullet_ratio_micros,
    CAST(CASE WHEN n_lines = 0 THEN 0
         ELSE floor(n_ellip * 1000000.0 / n_lines) END AS BIGINT)
      AS ellipsis_ratio_micros,
    CAST(CASE WHEN n_lines = 0 THEN 0
         ELSE floor(n_alpha * 1000000.0 / n_lines) END AS BIGINT)
      AS alpha_ratio_micros,
    stop_hits, has_lorem, has_brace, has_js
  FROM agg
)
"""

# C4/FineWeb/Gopher bundle: recompute every signal independently.
ORACLES["c4_fineweb_filter_docs"] = rf"""
{_C4_PAGE_CTES}
SELECT *,
  (NOT has_lorem AND NOT has_brace AND NOT has_js
   AND n_terminal_lines >= 3) AS keep_c4,
  (n_words BETWEEN 50 AND 100000
   AND mean_wlen_micros BETWEEN 3000000 AND 10000000
   AND bullet_ratio_micros <= 900000
   AND ellipsis_ratio_micros <= 300000
   AND alpha_ratio_micros >= 800000
   AND stop_hits >= 2) AS keep_gopher
FROM r
"""


# RFC 9309 robots matching: longest prefix wins, allow wins ties
# (struct comparison orders (len, allow) lexicographically in both
# engines), no-match allows. Rules derive from the corpus's own
# source domains, mirroring the Spark row.
ORACLES["robots_filter_docs"] = r"""
WITH u AS (
  SELECT doc_id,
         source || '.example.com' AS host,
         '/Docs/' || CAST(doc_id % 50 AS VARCHAR) AS path
  FROM documents
),
hosts AS (SELECT DISTINCT host FROM u),
rules AS (
  SELECT host, prefix, allow
  FROM hosts, (VALUES ('/Docs/1', FALSE), ('/Docs/12', TRUE),
                      ('/Docs/3', FALSE), ('/Docs/3', TRUE))
       AS t(prefix, allow)
  UNION ALL
  SELECT host, '/', FALSE FROM hosts
  WHERE regexp_matches(host, '^src[0-9]*0\.')
),
cand AS (
  SELECT u.doc_id, r.prefix, r.allow
  FROM u JOIN rules r
    ON u.host = r.host AND starts_with(u.path, r.prefix)
),
w AS (
  SELECT doc_id,
         max(struct_pack(l := length(prefix), a := allow)) AS wn
  FROM cand GROUP BY doc_id
)
SELECT u.doc_id, u.host, u.path,
       CAST(coalesce(wn.l, 0) AS BIGINT) AS matched_len,
       coalesce(wn.a, TRUE) AS allowed
FROM u LEFT JOIN w USING (doc_id)
"""

# Unicode/whitespace normalization: the rule chain restated here
# (independent of functions/text.NORMALIZE_RULES by design — the
# patterns are engine-portable regex escapes, the replacements are
# built with chr() so no control/invisible bytes live in the SQL).
_NORM_STEPS: list[tuple[str, str]] = [
    (r"[\x00-\x08\x0b-\x1f\x7f]", "''"),
    (r"[\x{200b}\x{200c}\x{200d}\x{feff}]", "''"),
    (r"[\x{2018}\x{2019}\x{2032}]", "''''"),          # -> '
    (r"[\x{201c}\x{201d}\x{2033}]", "'\"'"),
    (r"[\x{2013}\x{2014}\x{2015}]", "'-'"),
    (r"\x{2026}", "'...'"),
    (r"[\x{00a0}\x{2007}\x{2009}\x{202f}]", "' '"),
    (r"[ \t]+", "' '"),
    (" ?\n ?", "chr(10)"),
    ("\n{3,}", "chr(10) || chr(10)"),
]


def _norm_expr(col: str) -> str:
    expr = col
    for pat, rep_expr in _NORM_STEPS:
        p = pat.replace("\n", "' || chr(10) || '")
        expr = f"regexp_replace({expr}, '{p}', {rep_expr}, 'g')"
    return f"trim({expr})"


ORACLES["text_normalize_docs"] = f"""
WITH m AS (
  SELECT doc_id,
    chr(8220) || 'Title' || chr(8221) || ' ' || chr(8212) || ' intro'
      || chr(8230) || chr(160)
    || CASE WHEN doc_id % 2 = 0
            THEN chr(8203) || 'zw' || chr(8204) ELSE '' END
    || text
    || CASE WHEN doc_id % 3 = 0
            THEN '  ' || chr(9) || ' tail  ' || repeat(chr(10), 4)
                 || ' end ' || chr(7)
            ELSE ' it' || chr(8217) || 's fine ' END AS messy
  FROM documents
)
SELECT doc_id,
       CAST(length(messy) AS BIGINT) AS n_before,
       CAST(length({_norm_expr("messy")}) AS BIGINT) AS n_after,
       md5({_norm_expr("messy")}) AS out_digest
FROM m
"""

# The crawl interior after the robots gate `rb`: eval holdout -> page
# gate -> line dedup -> census with lang tag (full script+trigram logic
# over text_out) and EXACT distinct-13-gram contamination vs the
# holdout. The page CTEs are the shared _C4_PAGE_CTES with the d
# source filtered to robots-allowed non-holdout docs.
_CRAWL_PAGES = _C4_PAGE_CTES.replace(
    "WITH d AS (SELECT doc_id, ", "d AS (SELECT doc_id, ", 1
).replace(
    "FROM documents),",
    "FROM documents JOIN rb USING (doc_id) WHERE doc_id % 101 <> 0),",
    1,
)

# The live robots gate `rb`: rules come from the fake site's LIVE
# per-host bodies (sources/fakesite.py /robots.txt:
# hosts with n%3==0 publish only '* Disallow /Docs', so farmbot's
# fallback denies every /Docs path; other hosts give farmbot
# 'Disallow /Docs/{n}' with an Allow carve-out '/Docs/{n}/pub' that
# only even doc_ids' paths enter) — so the gate reduces to the same
# arithmetic the crawl_robots_e2e_docs oracle pins. `_V6_SQL` = this
# gate + the crawl interior, the body the v7-v10 oracles extend.
_V6_RB = r"""
WITH d0 AS (
  SELECT doc_id,
         CAST(regexp_extract(source, '(\d+)', 1) AS INT) AS n
  FROM documents
),
rb AS (SELECT doc_id FROM d0 WHERE n % 3 <> 0 AND doc_id % 2 = 0),
"""

_CRAWL_INTERIOR_SQL = rf"""{_CRAWL_PAGES},
k AS (
  SELECT doc_id, n_words FROM r
  WHERE NOT has_lorem AND NOT has_brace AND NOT has_js
    AND n_terminal_lines >= 3
    AND n_words BETWEEN 50 AND 100000
    AND mean_wlen_micros BETWEEN 3000000 AND 10000000
    AND bullet_ratio_micros <= 900000
    AND ellipsis_ratio_micros <= 300000
    AND alpha_ratio_micros >= 800000
    AND stop_hits >= 2
),
surv AS (SELECT s.doc_id, s.ls0 FROM st s JOIN k USING (doc_id)),
l2 AS (
  SELECT doc_id,
         string_split(array_to_string(ls0, chr(10)), chr(10)) AS lsx
  FROM surv
),
ii2 AS (SELECT doc_id, lsx, unnest(generate_series(1, len(lsx))) AS i FROM l2),
lines2 AS (SELECT doc_id, i AS pos, lsx[i] AS line FROM ii2),
freq2 AS (SELECT line FROM lines2 GROUP BY line HAVING count(*) >= 2),
kept2 AS (
  SELECT doc_id, pos, line FROM lines2
  WHERE line NOT IN (SELECT line FROM freq2)
),
reagg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS text_out
  FROM kept2 GROUP BY doc_id
),
fin AS (
  SELECT l2.doc_id,
         CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
         coalesce(text_out, '') AS text_out
  FROM l2 LEFT JOIN reagg USING (doc_id)
),
eg AS (
  SELECT DISTINCT unnest(list_distinct(
           CASE WHEN len(toks) >= 13
                THEN list_transform(generate_series(1, len(toks) - 12),
                                    i -> array_to_string(toks[i:i+12], ' '))
                ELSE CAST([] AS VARCHAR[]) END)) AS gram
  FROM (SELECT {_TOKS} AS toks FROM documents WHERE doc_id % 101 = 0)
),
og AS (
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN len(toks) >= 13
                THEN list_transform(generate_series(1, len(toks) - 12),
                                    i -> array_to_string(toks[i:i+12], ' '))
                ELSE CAST([] AS VARCHAR[]) END)) AS gram
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text_out)), '\s+'),
                           x -> len(x) > 0) AS toks
        FROM fin)
),
ct AS (SELECT doc_id, COUNT(*) AS n_contaminated FROM og JOIN eg USING (gram)
       GROUP BY doc_id),
lc AS (
  SELECT doc_id, n_kept, text_out,
         {_script_cnt("ar", "text_out")} AS c_ar,
         {_script_cnt("ru", "text_out")} AS c_ru,
         {_script_cnt("ko", "text_out")} AS c_ko,
         {_script_cnt("kana", "text_out")} AS c_kana,
         {_script_cnt("han", "text_out")} AS c_han,
         len(regexp_replace(text_out, '\s', '', 'g')) AS n,
         ' ' || lower(text_out) || ' ' AS lt
  FROM fin
),
ls AS (
  SELECT doc_id, n_kept, text_out, n,
         c_ar AS v_ar, 2 * c_kana AS v_ja, c_ko AS v_ko,
         c_ru AS v_ru, greatest(c_han - 2 * c_kana, 0) AS v_zh,
         greatest(c_ar, 2 * c_kana, c_ko, c_ru,
                  greatest(c_han - 2 * c_kana, 0)) AS best,
         {', '.join(f'{_tg_score(lang)} AS s_{lang}' for lang in _TGL)}
  FROM lc
),
lg AS (SELECT *, {_TG_MAX} AS mx FROM ls)
SELECT lg.doc_id, n_kept,
       md5(text_out) AS out_digest,
       CASE WHEN best > 0 AND best * 5 >= n THEN
              CASE WHEN v_ar = best THEN 'ar'
                   WHEN v_ja = best THEN 'ja'
                   WHEN v_ko = best THEN 'ko'
                   WHEN v_ru = best THEN 'ru'
                   ELSE 'zh' END
            WHEN mx <= 0 THEN 'und'
            {' '.join(f"WHEN s_{lang} = mx THEN '{lang}'" for lang in _TGL)}
       END AS lang,
       CAST(coalesce(ct.n_contaminated, 0) AS BIGINT) AS n_contaminated
FROM lg LEFT JOIN ct USING (doc_id)
"""

_V6_SQL = _V6_RB + _CRAWL_INTERIOR_SQL


# v7 = `_V6_SQL` + the per-language CCNet perplexity cut as the FINAL
# gate: the body's closing SELECT becomes a `v7in` CTE (keeping text_out
# for tokenization), `langs`/`d` re-point the shared keyed-KN5 chain
# at the interior's survivors, and the same self-calibrating
# per-language thresholds cut the tail. Every CTE name inside the
# keyed chain is fresh w.r.t. the v6 body (its doc CTE is `d0`/`st`,
# the KN chain's is `d`/`ii`/`inst`/t*/den*).
_v7_pre, _v7_sel = _V6_SQL.split(
    "\nSELECT lg.doc_id, n_kept,\n       md5(text_out) AS out_digest,", 1
)
ORACLES["training_data_pipeline_v7"] = (
    _v7_pre
    + """,
v7in AS MATERIALIZED (
SELECT lg.doc_id AS doc_id, n_kept, text_out,
       md5(text_out) AS out_digest,"""
    + _v7_sel
    + """
),
langs AS (SELECT doc_id, lang FROM v7in),
kd AS MATERIALIZED (
  SELECT doc_id, lang,
         """
    + _TOKS.replace("trim(text)", "trim(text_out)")
    + """ AS toks
  FROM v7in),
"""
    # the v6 body already owns the CTE name `d` — re-point the shared
    # keyed chain's source at `kd`
    + _KN5_KEYED_TAIL.replace("FROM d)", "FROM kd)")
    + """,
thrm AS (
  SELECT lang,
         round(CAST(SUM(CAST(nll AS DECIMAL(18,6))) AS DOUBLE)
               / count(*), 4) AS m
  FROM nlls GROUP BY lang),
thr AS (
  SELECT lang, m AS head_nll, round(m * 1.15, 4) AS tail_nll
  FROM thrm)
SELECT v7in.doc_id AS doc_id, v7in.lang AS lang,
       v7in.n_kept AS n_kept, v7in.out_digest AS out_digest,
       v7in.n_contaminated AS n_contaminated,
       nlls.n_tok AS n_tok, nlls.nll AS nll,
       CASE WHEN nll <= head_nll THEN 'head'
            WHEN nll <= tail_nll THEN 'middle'
            ELSE 'tail' END AS bucket
FROM v7in
JOIN nlls ON nlls.doc_id = v7in.doc_id
JOIN thr ON thr.lang = nlls.lang
WHERE nll <= tail_nll
"""
)


# Lines = non-overlapping 8-token windows (the corpus has no newlines);
# any line occurring >= 2 times corpus-wide is boilerplate and cut.
ORACLES["line_dedup_docs"] = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
ml AS (
  SELECT doc_id,
    CASE WHEN len(toks) = 0 THEN ''
         ELSE array_to_string(list_transform(
            generate_series(0,
              CAST(ceil(CAST(len(toks) AS DOUBLE) / 8.0) AS BIGINT) - 1),
            j -> array_to_string(toks[j*8+1:j*8+8], ' ')), chr(10))
    END AS text_ml
  FROM d
),
l AS (SELECT doc_id, string_split(text_ml, chr(10)) AS ls FROM ml),
ii AS (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i FROM l),
lines AS (SELECT doc_id, i AS pos, ls[i] AS line FROM ii),
freq AS (SELECT line FROM lines GROUP BY line HAVING count(*) >= 2),
kept AS (
  SELECT doc_id, pos, line FROM lines
  WHERE line NOT IN (SELECT line FROM freq)
),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS text_out
  FROM kept GROUP BY doc_id
)
SELECT l.doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
       CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
       md5(coalesce(text_out, '')) AS out_digest
FROM l LEFT JOIN agg USING (doc_id)
"""

# Synthetic crawl URLs (tracking junk varies per fetch) -> canonical
# form -> dup-group size. Rules mirror functions/urls.py exactly.
ORACLES["url_canonicalize_docs"] = r"""
WITH u AS (
  SELECT doc_id,
    'HTTPS://WWW.' || source || '.Example.COM:443/Docs/'
      || CAST(doc_id % 50 AS VARCHAR)
      || '/?utm_source=feed&page=' || CAST(doc_id % 4 AS VARCHAR)
      || '&sessionid=' || CAST(doc_id AS VARCHAR)
      || CASE WHEN doc_id % 3 = 0 THEN '#frag' ELSE '' END AS url
  FROM documents
),
c AS (
  SELECT doc_id,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1))
      AS hostport,
    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
      AS rawpath,
    regexp_extract(url, '[?]([^#]*)', 1) AS rawq
  FROM u
),
n AS (
  SELECT doc_id, scheme,
    regexp_replace(
      CASE WHEN scheme = 'https' AND hostport LIKE '%:443'
             THEN substr(hostport, 1, len(hostport) - 4)
           WHEN scheme = 'http' AND hostport LIKE '%:80'
             THEN substr(hostport, 1, len(hostport) - 3)
           ELSE hostport END,
      '^www\.', '') AS host,
    CASE WHEN rawpath = '' THEN '/'
         WHEN len(rawpath) > 1 AND rawpath LIKE '%/'
           THEN substr(rawpath, 1, len(rawpath) - 1)
         ELSE rawpath END AS path,
    array_to_string(list_sort(list_filter(string_split(rawq, '&'),
      x -> len(x) > 0 AND NOT regexp_matches(x,
        '^(utm_[^=]*|ref|sessionid|fbclid|gclid|msclkid)='))), '&') AS q
  FROM c
),
canon AS (
  SELECT doc_id,
         scheme || '://' || host || path
           || CASE WHEN q = '' THEN '' ELSE '?' || q END AS canon_url
  FROM n
)
SELECT doc_id, canon_url,
       count(*) OVER (PARTITION BY canon_url) AS n_dups
FROM canon
"""

# Linear quality classifier with dyadic pinned weights; logit math in
# the exact association order of operators/quality.quality_logit.
ORACLES["quality_logit_docs"] = f"""
WITH d AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
f AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_tok,
    CASE WHEN len(text) = 0 THEN 0.0
         ELSE CAST(len(regexp_replace(text, '{_PUNCT}', '', 'g')) AS DOUBLE)
              / len(text) END AS praw,
    CAST(len(list_distinct(toks)) AS BIGINT) AS n_dist,
    len(list_filter(toks,
        x -> list_contains(['the','and','of','to','a'], x))) AS stop_hits
  FROM d
),
g AS (
  SELECT doc_id, n_tok, praw,
    CASE WHEN n_tok = 0 THEN 0.0
         ELSE CAST(stop_hits AS DOUBLE) / CAST(n_tok AS DOUBLE) END AS sraw,
    CASE WHEN n_tok = 0 THEN 0.0
         ELSE CAST(n_dist AS DOUBLE) / CAST(n_tok AS DOUBLE) END AS draw
  FROM f
),
h AS (
  SELECT doc_id, n_tok, praw, sraw, draw,
    -0.75 + 0.00390625 * CAST(n_tok AS DOUBLE) + (-3.0) * praw
      + 2.0 * sraw + 0.75 * draw AS logit_raw
  FROM g
)
SELECT doc_id, n_tok,
  round(praw, 6) AS punct_r,
  round(sraw, 6) AS stop_r,
  round(draw, 6) AS dist_r,
  floor(logit_raw * 1000000.0) / 1000000.0 AS logit,
  CASE WHEN logit_raw >= 0 THEN 'keep' ELSE 'drop' END AS label
FROM h
"""

# Compaction integrity: four modular append batches cover every event
# exactly once; the file count and version are pinned by the commit
# protocol (4 appends = v0..v3, compact(2) = v4 with exactly 2 files).
ORACLES["k_compact_sink"] = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_keys,
       CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
         AS value_micros,
       CAST(2 AS BIGINT) AS n_files,
       CAST(4 AS BIGINT) AS version
FROM events
"""

# Schema evolution: even ids inserted pre-evolve carry the -1
# backfill default; odd ids post-evolve carry real micros. Version
# pinned by the commit protocol (insert=v0, evolve=v1, insert=v2).
ORACLES["k_schema_evolve_sink"] = """
WITH t AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN CAST(-1 AS BIGINT)
              ELSE CAST(floor(value * 1000000.0) AS BIGINT)
         END AS value_micros
  FROM events
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN value_micros = -1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_backfilled,
       CAST(SUM(value_micros) AS BIGINT) AS micros_sum,
       CAST(2 AS BIGINT) AS version
FROM t
"""

# migration v2: relax NOT NULL + rename under the versioned commits
ORACLES["k_schema_evolve_v2_sink"] = """
WITH u AS (SELECT DISTINCT user_id FROM events)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_uid,
       CAST(count(*) AS BIGINT) AS n_named,
       TRUE AS uid_relaxed,
       'user_name' AS renamed_to,
       CAST(2 AS BIGINT) AS version
FROM u
"""

# dropDuplicatesWithinWatermark over unique event ids == distinct set.
ORACLES["streaming_dedup_watermark_events"] = ORACLES["streaming_dedup_events"]

# Ordered 3-step funnel, first-touch semantics, 24h step windows.
_FUNNEL_STEPS = """
s1 AS (SELECT user_id, min(ts) AS t1 FROM events
       WHERE event_type = 'view' GROUP BY user_id),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click'
    AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 24 HOUR
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase'
    AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL 24 HOUR
  GROUP BY e.user_id
)
"""

ORACLES["funnel_events"] = f"""
WITH {_FUNNEL_STEPS}
SELECT s1.user_id, t1, t2, t3,
  CAST(1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
         + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS INTEGER)
    AS steps_completed
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""

ORACLES["funnel_summary_events"] = f"""
WITH {_FUNNEL_STEPS}
SELECT CAST(1 AS INTEGER) AS step,
       CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
UNION ALL
SELECT CAST(2 AS INTEGER),
       CAST((SELECT count(*) FROM s2) AS BIGINT)
UNION ALL
SELECT CAST(3 AS INTEGER),
       CAST((SELECT count(*) FROM s3) AS BIGINT)
"""

ORACLES["cohort_retention_events"] = """
WITH first AS (
  SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
  FROM events GROUP BY user_id
),
act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
SELECT cohort_day,
       CAST(date_diff('day', cohort_day, day) AS INTEGER) AS day_offset,
       count(DISTINCT user_id) AS n_users
FROM act JOIN first USING (user_id)
GROUP BY cohort_day, day_offset
"""

# r9 composed pipeline: line dedup -> quality logit gate -> perplexity
# bucket with tail cut (RefinedWeb/CCNet recipe order). Mirrors
# queries.training_data_pipeline_v3 stage for stage.
ORACLES["training_data_pipeline_v3"] = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
ml AS (
  SELECT doc_id,
    CASE WHEN len(toks) = 0 THEN ''
         ELSE array_to_string(list_transform(
            generate_series(0,
              CAST(ceil(CAST(len(toks) AS DOUBLE) / 8.0) AS BIGINT) - 1),
            j -> array_to_string(toks[j*8+1:j*8+8], ' ')), chr(10))
    END AS text_ml
  FROM d
),
l AS (SELECT doc_id, string_split(text_ml, chr(10)) AS ls FROM ml),
ii AS (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i FROM l),
lines AS (SELECT doc_id, i AS pos, ls[i] AS line FROM ii),
freq AS (SELECT line FROM lines GROUP BY line HAVING count(*) >= 2),
kept AS (
  SELECT doc_id, pos, line FROM lines
  WHERE line NOT IN (SELECT line FROM freq)
),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS text_out
  FROM kept GROUP BY doc_id
),
cleaned AS (
  SELECT l.doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
         CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
         coalesce(text_out, '') AS text_out
  FROM l LEFT JOIN agg USING (doc_id)
),
ct AS (
  SELECT doc_id, n_lines, n_kept, text_out,
         list_filter(string_split_regex(lower(trim(text_out)), '\\s+'),
                     x -> len(x) > 0) AS toks2
  FROM cleaned
),
qf AS (
  SELECT doc_id, n_lines, n_kept, toks2,
    CAST(len(toks2) AS BIGINT) AS n_tok_q,
    CASE WHEN len(text_out) = 0 THEN 0.0
         ELSE CAST(len(regexp_replace(text_out, '{_PUNCT}', '', 'g'))
                   AS DOUBLE) / len(text_out) END AS praw,
    CAST(len(list_distinct(toks2)) AS BIGINT) AS n_dist,
    len(list_filter(toks2,
        x -> list_contains(['the','and','of','to','a'], x))) AS stop_hits
  FROM ct
),
qg AS (
  SELECT doc_id, n_lines, n_kept, toks2, n_tok_q, praw,
    CASE WHEN n_tok_q = 0 THEN 0.0
         ELSE CAST(stop_hits AS DOUBLE) / CAST(n_tok_q AS DOUBLE) END AS sraw,
    CASE WHEN n_tok_q = 0 THEN 0.0
         ELSE CAST(n_dist AS DOUBLE) / CAST(n_tok_q AS DOUBLE) END AS draw
  FROM qf
),
keepers AS (
  SELECT doc_id, n_lines, n_kept, toks2,
         floor(logit_raw * 1000000.0) / 1000000.0 AS logit
  FROM (
    SELECT *,
      -0.75 + 0.00390625 * CAST(n_tok_q AS DOUBLE) + (-3.0) * praw
        + 2.0 * sraw + 0.75 * draw AS logit_raw
    FROM qg
  ) WHERE logit_raw >= 0
),
kii AS (SELECT doc_id, toks2 AS toks,
               unnest(generate_series(1, len(toks2))) AS i
        FROM keepers),
kpairs AS (
  SELECT doc_id,
         CASE WHEN i = 1 THEN '<s>' ELSE toks[i-1] END AS prev,
         toks[i] AS w
  FROM kii
),
kcpw AS (SELECT prev, w, count(*) AS c FROM kpairs GROUP BY prev, w),
kcp AS (SELECT prev, CAST(SUM(c) AS BIGINT) AS cp FROM kcpw GROUP BY prev),
kvoc AS (SELECT count(DISTINCT w) AS V FROM kpairs),
kprob AS (
  SELECT prev, w,
         CAST(c + 1 AS DOUBLE) / CAST(cp + V AS DOUBLE) AS p
  FROM kcpw JOIN kcp USING (prev) CROSS JOIN kvoc
),
kscored AS (
  SELECT doc_id, floor(-ln(p) * 1000000.0) / 1000000.0 AS q
  FROM kpairs JOIN kprob USING (prev, w)
),
ks AS (
  SELECT doc_id, count(*) AS n_tok,
         round(CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
           AS nll
  FROM kscored GROUP BY doc_id
),
knll AS (
  SELECT k.doc_id, coalesce(n_tok, 0) AS n_tok, coalesce(nll, 0.0) AS nll
  FROM keepers k LEFT JOIN ks USING (doc_id)
)
SELECT k.doc_id, k.n_lines, k.n_kept, k.logit, n.n_tok, n.nll,
       CASE WHEN n.nll <= 3.30 THEN 'head' ELSE 'middle' END AS bucket
FROM keepers k JOIN knll n ON k.doc_id = n.doc_id
WHERE n.nll <= 3.42
"""

# Bloom-pruned decontamination: md5-slice bit positions (m = 262144,
# k = 3) are portable, so the prune itself is oracle-checked, and the
# exact column must equal decontaminate_docs' counts.
ORACLES["bloom_decontaminate_docs"] = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(toks) >= 13
                THEN list_transform(generate_series(1, len(toks) - 12),
                                    i -> array_to_string(toks[i:i+12], ' '))
                ELSE CAST([] AS VARCHAR[]) END)) AS gram
  FROM d
),
ev AS (SELECT DISTINCT gram FROM g WHERE doc_id < 250),
bits AS (
  SELECT DISTINCT
    CAST('0x' || substr(md5(gram), 1 + 8*i, 8) AS BIGINT) % 262144 AS pos
  FROM ev, unnest([0, 1, 2]) AS t(i)
),
tp AS (
  SELECT doc_id, gram,
    list_distinct(list_transform([0, 1, 2],
      i -> CAST('0x' || substr(md5(gram), 1 + 8*i, 8) AS BIGINT) % 262144))
      AS parr
  FROM g WHERE doc_id >= 250
),
tpe AS (SELECT doc_id, gram, len(parr) AS npos, unnest(parr) AS pos FROM tp),
cand AS (
  SELECT doc_id, gram FROM (
    SELECT doc_id, gram, npos, count(*) AS nhit
    FROM tpe JOIN bits USING (pos) GROUP BY doc_id, gram, npos
  ) WHERE nhit = npos
),
mk AS (
  SELECT c.doc_id, ev.gram AS eg
  FROM cand c LEFT JOIN ev ON c.gram = ev.gram
)
SELECT doc_id, count(*) AS n_cand_grams,
       count(eg) AS n_contaminated_ngrams
FROM mk GROUP BY doc_id
"""

# Streaming frozen-LM filter == the batch recompute: score every doc
# against the even-half LM (add-one zero-count fallback), cut the tail.
ORACLES["streaming_ppl_filter_docs"] = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
ii AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
       FROM d),
pairs AS (
  SELECT doc_id,
         CASE WHEN i = 1 THEN '<s>' ELSE toks[i-1] END AS prev,
         toks[i] AS w
  FROM ii
),
tpairs AS (SELECT * FROM pairs WHERE doc_id % 2 = 0),
cpw AS (SELECT prev, w, count(*) AS c FROM tpairs GROUP BY prev, w),
cp AS (SELECT prev, CAST(SUM(c) AS BIGINT) AS cp FROM cpw GROUP BY prev),
voc AS (SELECT count(DISTINCT w) AS V FROM tpairs),
prob AS (
  SELECT prev, w,
         CAST(c + 1 AS DOUBLE) / CAST(cp + V AS DOUBLE) AS p
  FROM cpw JOIN cp USING (prev) CROSS JOIN voc
),
scored AS (
  SELECT pairs.doc_id,
         floor(-ln(coalesce(
             p,
             CAST(1.0 AS DOUBLE) / CAST(cp + V AS DOUBLE),
             CAST(1.0 AS DOUBLE) / CAST(V AS DOUBLE)
           )) * 1000000.0) / 1000000.0 AS q
  FROM pairs
  LEFT JOIN prob USING (prev, w)
  LEFT JOIN cp USING (prev)
  CROSS JOIN voc
),
s AS (
  SELECT doc_id, count(*) AS n_tok,
         round(CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
           AS nll
  FROM scored GROUP BY doc_id
),
nlls AS (
  SELECT dd.doc_id, coalesce(n_tok, 0) AS n_tok, coalesce(nll, 0.0) AS nll
  FROM documents dd LEFT JOIN s USING (doc_id)
)
SELECT doc_id, n_tok, nll,
       CASE WHEN nll <= 3.40 THEN 'head' ELSE 'middle' END AS bucket
FROM nlls
WHERE nll <= 3.47
"""

# The bitmap-literal Bloom probe is semantically identical to the
# position-set form (membership in the same k-position set), so the
# two rows share one oracle text and must hash-match each other.
ORACLES["bloom_bitmap_decontaminate_docs"] = ORACLES[
    "bloom_decontaminate_docs"
]

# Domain-level curation aggregates over the same synthetic URLs and
# quality-logit features as their standalone rows.
ORACLES["domain_stats_docs"] = f"""
WITH u AS (
  SELECT doc_id,
    'HTTPS://WWW.' || source || '.Example.COM:443/Docs/'
      || CAST(doc_id % 50 AS VARCHAR)
      || '/?utm_source=feed&page=' || CAST(doc_id % 4 AS VARCHAR)
      || '&sessionid=' || CAST(doc_id AS VARCHAR)
      || CASE WHEN doc_id % 3 = 0 THEN '#frag' ELSE '' END AS url
  FROM documents
),
c AS (
  SELECT doc_id,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1))
      AS hostport,
    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
      AS rawpath,
    regexp_extract(url, '[?]([^#]*)', 1) AS rawq
  FROM u
),
n AS (
  SELECT doc_id, scheme,
    regexp_replace(
      CASE WHEN scheme = 'https' AND hostport LIKE '%:443'
             THEN substr(hostport, 1, len(hostport) - 4)
           WHEN scheme = 'http' AND hostport LIKE '%:80'
             THEN substr(hostport, 1, len(hostport) - 3)
           ELSE hostport END,
      '^www\\.', '') AS host,
    CASE WHEN rawpath = '' THEN '/'
         WHEN len(rawpath) > 1 AND rawpath LIKE '%/'
           THEN substr(rawpath, 1, len(rawpath) - 1)
         ELSE rawpath END AS path,
    array_to_string(list_sort(list_filter(string_split(rawq, '&'),
      x -> len(x) > 0 AND NOT regexp_matches(x,
        '^(utm_[^=]*|ref|sessionid|fbclid|gclid|msclkid)='))), '&') AS q
  FROM c
),
canon AS (
  SELECT doc_id, host,
         scheme || '://' || host || path
           || CASE WHEN q = '' THEN '' ELSE '?' || q END AS canon_url
  FROM n
),
d AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
f AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_tok,
    CASE WHEN len(text) = 0 THEN 0.0
         ELSE CAST(len(regexp_replace(text, '{_PUNCT}', '', 'g')) AS DOUBLE)
              / len(text) END AS praw,
    CAST(len(list_distinct(toks)) AS BIGINT) AS n_dist,
    len(list_filter(toks,
        x -> list_contains(['the','and','of','to','a'], x))) AS stop_hits
  FROM d
),
g AS (
  SELECT doc_id, n_tok, praw,
    CASE WHEN n_tok = 0 THEN 0.0
         ELSE CAST(stop_hits AS DOUBLE) / CAST(n_tok AS DOUBLE) END AS sraw,
    CASE WHEN n_tok = 0 THEN 0.0
         ELSE CAST(n_dist AS DOUBLE) / CAST(n_tok AS DOUBLE) END AS draw
  FROM f
),
q2 AS (
  SELECT doc_id, n_tok,
    CASE WHEN (-0.75 + 0.00390625 * CAST(n_tok AS DOUBLE) + (-3.0) * praw
               + 2.0 * sraw + 0.75 * draw) >= 0
         THEN 'keep' ELSE 'drop' END AS label
  FROM g
)
SELECT host, count(*) AS n_docs,
       count(DISTINCT canon_url) AS n_pages,
       round(CAST(SUM(n_tok) AS DOUBLE) / count(*), 6) AS mean_tok,
       round(CAST(SUM(CASE WHEN label = 'keep' THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS keep_rate
FROM canon JOIN q2 USING (doc_id)
GROUP BY host
"""


def _pagerank_sql(n_iter: int = 5) -> str:
    """Generate the chained-CTE recompute of operators/graph.pagerank:
    one CTE per round, micro-quantized contribution sums, dyadic
    damping — every arithmetic step written with the same operand
    types and association order as the Spark expressions."""
    ctes = [
        "nodes AS (SELECT doc_id AS id FROM documents)",
        "nn AS (SELECT count(*) AS N FROM nodes)",
        "edges AS (\n"
        "  SELECT doc_id AS src,\n"
        "         (doc_id * 31 + j * 17) % (SELECT N FROM nn) AS dst\n"
        "  FROM documents, unnest([1, 2, 3]) AS t(j)\n"
        ")",
        "deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)",
        "r0 AS (SELECT id, CAST(1.0 AS DOUBLE) / (SELECT N FROM nn) AS rank"
        " FROM nodes)",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"r{i} AS (\n"
            "  SELECT n.id,\n"
            "         CAST(0.125 AS DOUBLE) / (SELECT N FROM nn)\n"
            "           + CAST(coalesce(s.sm, 0) AS DOUBLE) / 1000000.0"
            " AS rank\n"
            "  FROM nodes n LEFT JOIN (\n"
            "    SELECT e.dst AS id,\n"
            "           SUM(CAST(floor(((r.rank * 0.875) / d.outdeg)"
            " * 1000000.0) AS BIGINT)) AS sm\n"
            f"    FROM edges e JOIN r{i - 1} r ON e.src = r.id"
            " JOIN deg d ON e.src = d.src\n"
            "    GROUP BY e.dst\n"
            "  ) s ON n.id = s.id\n"
            ")"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT id AS doc_id, round(rank, 6) AS rank FROM r{n_iter}"
    )


ORACLES["pagerank_docs"] = _pagerank_sql(5)

# Character-level Shannon entropy: micro-quantized -p*ln(p) terms,
# exact decimal sum (langmodel discipline).
ORACLES["char_entropy_docs"] = """
WITH d AS (SELECT doc_id, text, len(text) AS n FROM documents),
ch AS (
  SELECT doc_id, n, substr(text, i, 1) AS c
  FROM d, unnest(generate_series(1, n)) AS t(i)
  WHERE n > 0
),
cnt AS (SELECT doc_id, n, c, count(*) AS cc FROM ch GROUP BY doc_id, n, c),
terms AS (
  SELECT doc_id, n,
    CAST(floor(-((CAST(cc AS DOUBLE) / CAST(n AS DOUBLE))
            * ln(CAST(cc AS DOUBLE) / CAST(n AS DOUBLE))) * 1000000.0)
      AS BIGINT) AS qm
  FROM cnt
),
s AS (
  SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chars,
         CAST(SUM(qm) AS BIGINT) AS entropy_micros
  FROM terms GROUP BY doc_id
)
SELECT dd.doc_id, coalesce(s.n_chars, 0) AS n_chars,
       coalesce(s.entropy_micros, 0) AS entropy_micros
FROM documents dd LEFT JOIN s USING (doc_id)
"""

# First-order event-transition matrix; p is an exact count ratio.
ORACLES["event_transitions_events"] = """
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
         ) AS to_type
  FROM events
),
t AS (
  SELECT from_type, to_type, count(*) AS n
  FROM seq WHERE to_type IS NOT NULL GROUP BY from_type, to_type
),
tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tn FROM t GROUP BY from_type)
SELECT from_type, to_type, n,
       round(CAST(n AS DOUBLE) / CAST(tn AS DOUBLE), 6) AS p
FROM t JOIN tot USING (from_type)
"""

# Multi-touch linear attribution with micro-quantized per-pair credit.
ORACLES["linear_attribution_events"] = """
WITH convs AS (
  SELECT user_id AS u, event_id AS cid, ts AS cts
  FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT user_id AS u, event_id AS tid, ts AS tts
  FROM events WHERE event_type = 'click'
),
pairs AS (
  SELECT cid, tid FROM convs JOIN touches USING (u)
  WHERE tts < cts AND tts > cts - INTERVAL 24 HOUR
),
nt AS (SELECT cid, count(*) AS n FROM pairs GROUP BY cid),
cr AS (
  SELECT tid, p.cid,
         CAST(floor(CAST(1000000.0 AS DOUBLE) / n) AS BIGINT) AS cm
  FROM pairs p JOIN nt USING (cid)
)
SELECT tid AS event_id, count(DISTINCT cid) AS n_conversions,
       CAST(SUM(cm) AS DOUBLE) / 1000000.0 AS credit
FROM cr GROUP BY tid
"""

# Dense hourly grid per event type; zero-filled counts, forward-filled
# micro-quantized value totals.
ORACLES["gap_fill_events"] = """
WITH per AS (
  SELECT event_type AS key, date_trunc('hour', ts) AS hour,
         count(*) AS n_events,
         CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS sm
  FROM events GROUP BY 1, 2
),
span AS (
  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
  FROM events
),
grid AS (
  SELECT k.key, g.hour
  FROM (SELECT DISTINCT event_type AS key FROM events) k,
       span,
       unnest(generate_series(span.h0, span.h1, INTERVAL 1 HOUR)) AS g(hour)
),
j AS (
  SELECT grid.key, grid.hour,
         coalesce(per.n_events, 0) AS n_events,
         per.sm AS sm
  FROM grid LEFT JOIN per ON grid.key = per.key AND grid.hour = per.hour
)
SELECT key AS event_type, hour, n_events,
       coalesce(sm, 0) AS value_micros,
       coalesce(
         last_value(sm IGNORE NULLS) OVER (
           PARTITION BY key ORDER BY hour
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ), 0) AS value_ffill_micros
FROM j
"""

# Dynamic-partition-overwrite end state: day 2024-01-05 rewritten with
# values +100, every other day untouched; one directory per day.
ORACLES["k_partitioned_sink"] = """
WITH d AS (
  SELECT event_id, CAST(ts AS DATE) AS day,
         CASE WHEN CAST(ts AS DATE) = DATE '2024-01-05'
              THEN value + 100.0 ELSE value END AS value
  FROM events
),
nd AS (SELECT CAST(count(DISTINCT day) AS BIGINT) AS n_day_dirs FROM d)
SELECT day, count(*) AS n,
       CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
         AS value_micros,
       (SELECT n_day_dirs FROM nd) AS n_day_dirs
FROM d GROUP BY day
"""

# Record linkage: blocked fuzzy pairs (levenshtein <= 2 inside phone-
# tail blocks) -> recursive transitive closure, cluster = min id.
ORACLES["record_linkage_customer"] = """
WITH RECURSIVE r0 AS (
  SELECT c_custkey,
         c_name || ' '
           || substr(md5('ph|' || CAST(c_custkey AS VARCHAR)), 1, 8) AS rec
  FROM customer
),
base AS (SELECT c_custkey AS id, rec FROM r0),
var AS (
  SELECT c_custkey + 1000000 AS id,
         substr(rec, 1, 8) || substr(rec, 10) AS rec
  FROM r0 WHERE c_custkey % 5 = 0
),
recs AS (SELECT * FROM base UNION ALL SELECT * FROM var),
blocked AS (SELECT id, rec, right(rec, 4) AS blk FROM recs),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.id < b.id
  WHERE levenshtein(a.rec, b.rec) <= 2
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(a, b) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
)
SELECT a AS id, MIN(b) AS cluster_id FROM reach GROUP BY a
"""

# Exact per-type 1%/99% winsorization under (value, event_id) order.
ORACLES["winsorize_events"] = """
WITH ranked AS (
  SELECT event_id, event_type, value,
         row_number() OVER (
           PARTITION BY event_type ORDER BY value ASC, event_id ASC
         ) AS rn
  FROM events
),
counts AS (SELECT event_type, count(*) AS n FROM events GROUP BY event_type),
bounds AS (
  SELECT r.event_type, min(value) AS lo, max(value) AS hi
  FROM ranked r JOIN counts c ON r.event_type = c.event_type
  WHERE r.rn = CAST(floor(n * 0.01) + 1 AS INTEGER)
     OR r.rn = CAST(n - floor(n * 0.01) AS INTEGER)
  GROUP BY r.event_type
)
SELECT e.event_id, e.event_type,
       CAST(floor(e.value * 1000000.0) AS BIGINT) AS value_micros,
       CAST(floor(least(greatest(e.value, b.lo), b.hi) * 1000000.0)
            AS BIGINT) AS clipped_micros
FROM events e JOIN bounds b ON e.event_type = b.event_type
"""

# One-scan DQ suite: three conditional counts + a distinct-count fold.
ORACLES["dq_checks_events"] = """
WITH n AS (SELECT count(*) AS n_checked FROM events)
SELECT 'nonnull_value' AS check, n_checked,
       (SELECT CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM events) AS n_violations
FROM n
UNION ALL
SELECT 'value_le_100', n_checked,
       (SELECT CAST(SUM(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS BIGINT)
        FROM events)
FROM n
UNION ALL
SELECT 'ts_in_window', n_checked,
       (SELECT CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-01'
                              OR ts >= TIMESTAMP '2024-02-01'
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM events)
FROM n
UNION ALL
SELECT 'unique_event_id', n_checked,
       (SELECT CAST(count(*) - count(DISTINCT event_id) AS BIGINT)
        FROM events)
FROM n
"""

# Orphan orders after a simulated corrupted dimension load.
ORACLES["dq_orphan_orders"] = """
SELECT o.o_orderkey, o.o_custkey
FROM orders o
WHERE NOT EXISTS (
  SELECT 1 FROM customer c
  WHERE c.c_custkey = o.o_custkey AND c.c_custkey % 97 <> 0
)
"""

# Exact-integer z-score anomaly flags over the gap-filled hourly grid.
ORACLES["anomaly_hours_events"] = """
WITH per AS (
  SELECT event_type AS key, date_trunc('hour', ts) AS hour,
         CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS sm
  FROM events GROUP BY 1, 2
),
span AS (
  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
  FROM events
),
grid AS (
  SELECT k.key, g.hour
  FROM (SELECT DISTINCT event_type AS key FROM events) k,
       span,
       unnest(generate_series(span.h0, span.h1, INTERVAL 1 HOUR)) AS g(hour)
),
g AS (
  SELECT grid.key, grid.hour, coalesce(per.sm, 0) AS vm
  FROM grid LEFT JOIN per ON grid.key = per.key AND grid.hour = per.hour
),
m AS (
  SELECT key, CAST(count(*) AS HUGEINT) AS n,
         CAST(SUM(CAST(vm AS HUGEINT)) AS HUGEINT) AS s1,
         CAST(SUM(CAST(vm AS HUGEINT) * CAST(vm AS HUGEINT)) AS HUGEINT) AS s2
  FROM g GROUP BY key
)
SELECT g.key AS event_type, g.hour, g.vm AS value_micros,
       CAST(CASE WHEN (m.n * CAST(g.vm AS HUGEINT) - m.s1)
                      * (m.n * CAST(g.vm AS HUGEINT) - m.s1)
                  >= 9 * (m.n * m.s2 - m.s1 * m.s1)
                 THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
FROM g JOIN m ON g.key = m.key
"""

# streaming per-lang CCNet == the batch row by construction (frozen
# keyed models + frozen per-language thresholds; scoring the training
# corpus never misses) — shared oracle pins stream/batch equality.
ORACLES["streaming_ccnet_per_lang_docs"] = ORACLES[
    "ccnet_per_lang_filter_docs"
]

# DSIR (Xie et al. 2023): hashed uni+bigram bucket distributions,
# add-one smoothed; per-doc importance logit via micro-quantized
# decimal sum; md5-derived Gumbel keys; deterministic top-k. Mirrors
# quality.dsir_select expression for expression.
ORACLES["dsir_select_docs"] = f"""
WITH tgt AS (SELECT doc_id, {_TOKS} AS toks
             FROM documents WHERE doc_id % 101 = 0),
rawd AS (SELECT doc_id, {_TOKS} AS toks
         FROM documents WHERE doc_id % 101 <> 0),
tgr AS (
  SELECT doc_id, unnest(list_concat(toks,
    CASE WHEN len(toks) >= 2
         THEN list_transform(generate_series(1, len(toks) - 1),
                             i -> array_to_string(toks[i:i+1], ' '))
         ELSE CAST([] AS VARCHAR[]) END)) AS gram
  FROM tgt),
rgr AS (
  SELECT doc_id, unnest(list_concat(toks,
    CASE WHEN len(toks) >= 2
         THEN list_transform(generate_series(1, len(toks) - 1),
                             i -> array_to_string(toks[i:i+1], ' '))
         ELSE CAST([] AS VARCHAR[]) END)) AS gram
  FROM rawd),
tb AS (SELECT CAST('0x' || substr(md5('dsir|' || gram), 1, 8) AS BIGINT)
              % 4096 AS bucket FROM tgr),
rb AS (SELECT doc_id,
              CAST('0x' || substr(md5('dsir|' || gram), 1, 8) AS BIGINT)
              % 4096 AS bucket FROM rgr),
tcnt AS (SELECT bucket, count(*) AS ct FROM tb GROUP BY bucket),
rcnt AS (SELECT bucket, count(*) AS cr FROM rb GROUP BY bucket),
tt AS (SELECT count(*) AS T FROM tb),
rt AS (SELECT count(*) AS R FROM rb),
ratio AS (
  SELECT rcnt.bucket,
         ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE)
            / CAST(T + 4096 AS DOUBLE))
         - ln(CAST(cr + 1 AS DOUBLE) / CAST(R + 4096 AS DOUBLE)) AS lr
  FROM rcnt LEFT JOIN tcnt USING (bucket) CROSS JOIN tt CROSS JOIN rt),
pdb AS (SELECT doc_id, bucket, count(*) AS c
        FROM rb GROUP BY doc_id, bucket),
lw AS (
  SELECT doc_id,
         round(CAST(SUM(CAST(
           floor(CAST(c AS DOUBLE) * lr * 1000000.0) / 1000000.0
           AS DECIMAL(18,6))) AS DOUBLE), 6) AS logw
  FROM pdb JOIN ratio USING (bucket) GROUP BY doc_id),
sc AS (
  SELECT r.doc_id, coalesce(logw, 0.0) AS logw,
         round(coalesce(logw, 0.0)
               - ln(-ln((CAST('0x' || substr(
                     md5('g|dsir|' || CAST(r.doc_id AS VARCHAR)), 1, 8)
                     AS BIGINT) + 1.0) / 4294967297.0)), 6) AS gkey
  FROM (SELECT doc_id FROM documents WHERE doc_id % 101 <> 0) r
  LEFT JOIN lw USING (doc_id))
SELECT doc_id, logw, gkey FROM sc ORDER BY gkey DESC, doc_id LIMIT 100
"""

# One-row corpus report card: aggregates over the text_metrics oracle
# (nested verbatim as a CTE) + the %101-holdout 13-gram census. All
# outputs are exact integers or strings; modal-language tie-break is
# the (count, lang) struct max, field order matching Spark's.
ORACLES["corpus_report_docs"] = f"""
WITH tm AS ({ORACLES["text_metrics_docs"]}),
b AS (
  SELECT doc_id, lang_pred, n_tokens,
         CAST(round(quality * 1000000.0) AS BIGINT) AS qm, fp
  FROM tm),
scal AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT fp) AS BIGINT) AS n_fp,
         CAST(SUM(qm) AS BIGINT) AS sum_quality_micros
  FROM b),
lgc AS (SELECT lang_pred, CAST(count(*) AS BIGINT) AS n
        FROM b GROUP BY lang_pred),
tp AS (SELECT max(struct_pack(n := n, l := lang_pred)) AS t,
              CAST(count(*) AS BIGINT) AS n_langs
       FROM lgc),
egr AS (
  SELECT DISTINCT unnest(list_distinct(
           CASE WHEN len(toks) >= 13
                THEN list_transform(generate_series(1, len(toks) - 12),
                                    i -> array_to_string(toks[i:i+12], ' '))
                ELSE CAST([] AS VARCHAR[]) END)) AS gram
  FROM (SELECT {_TOKS} AS toks FROM documents WHERE doc_id % 101 = 0)),
ogr AS (
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN len(toks) >= 13
                THEN list_transform(generate_series(1, len(toks) - 12),
                                    i -> array_to_string(toks[i:i+12], ' '))
                ELSE CAST([] AS VARCHAR[]) END)) AS gram
  FROM (SELECT doc_id, {_TOKS} AS toks FROM documents
        WHERE doc_id % 101 <> 0)),
ctm AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT)
               AS n_contaminated_docs
        FROM ogr JOIN egr USING (gram))
SELECT n_docs, n_tokens, n_docs - n_fp AS n_dup_docs, n_langs,
       t.l AS top_lang, CAST(t.n AS BIGINT) AS top_lang_n,
       sum_quality_micros, n_contaminated_docs
FROM scal CROSS JOIN tp CROSS JOIN ctm
"""

# --- round 15: v7 compositions -------------------------------------------

# The v7 head/middle survivor relation as a reusable CTE block: the
# v7 oracle's prefix (everything up to its final SELECT) + a
# materialized survivor CTE named v7out ("surv" is taken by the page
# chain). Shared by the v8 (DSIR-selection) oracle and, through it,
# the v9 family, mirroring queries._v7_interior_scored.
_v7_prefix = ORACLES["training_data_pipeline_v7"].split(
    "\nSELECT v7in.doc_id AS doc_id", 1
)[0]
_V7OUT = (
    _v7_prefix
    + """,
v7out AS MATERIALIZED (
  SELECT v7in.doc_id AS doc_id, v7in.lang AS lang,
         v7in.text_out AS text_out, v7in.out_digest AS out_digest,
         v7in.n_contaminated AS n_contaminated,
         nlls.n_tok AS n_tok, nlls.nll AS nll,
         CASE WHEN nll <= head_nll THEN 'head'
              WHEN nll <= tail_nll THEN 'middle'
              ELSE 'tail' END AS bucket
  FROM v7in
  JOIN nlls ON nlls.doc_id = v7in.doc_id
  JOIN thr ON thr.lang = nlls.lang
  WHERE nll <= tail_nll
)"""
)

# v8 = DSIR selection over the v7 survivors: the dsir_select_docs
# oracle chain (hashed uni+bigram buckets, add-one smoothing,
# micro-quantized logit, md5-Gumbel top-k) re-pointed at v7out's
# text_out as the raw corpus and the %101 holdout as the target;
# ds_-prefixed CTE names keep the namespace disjoint from the v7
# body (which already owns `rb`).
_DS_GRAMS = """unnest(list_concat(toks,
    CASE WHEN len(toks) >= 2
         THEN list_transform(generate_series(1, len(toks) - 1),
                             i -> array_to_string(toks[i:i+1], ' '))
         ELSE CAST([] AS VARCHAR[]) END)) AS gram"""
ORACLES["training_data_pipeline_v8"] = (
    _V7OUT
    + f""",
ds_tgt AS (SELECT doc_id, {_TOKS} AS toks
           FROM documents WHERE doc_id % 101 = 0),
ds_rawd AS (SELECT doc_id,
                   {_TOKS.replace("trim(text)", "trim(text_out)")} AS toks
            FROM v7out),
ds_tgr AS (SELECT doc_id, {_DS_GRAMS} FROM ds_tgt),
ds_rgr AS (SELECT doc_id, {_DS_GRAMS} FROM ds_rawd),
ds_tb AS (SELECT CAST('0x' || substr(md5('dsir|' || gram), 1, 8) AS BIGINT)
                 % 4096 AS bucket FROM ds_tgr),
ds_rb AS (SELECT doc_id,
                 CAST('0x' || substr(md5('dsir|' || gram), 1, 8) AS BIGINT)
                 % 4096 AS bucket FROM ds_rgr),
ds_tcnt AS (SELECT bucket, count(*) AS ct FROM ds_tb GROUP BY bucket),
ds_rcnt AS (SELECT bucket, count(*) AS cr FROM ds_rb GROUP BY bucket),
ds_tt AS (SELECT count(*) AS T FROM ds_tb),
ds_rt AS (SELECT count(*) AS R FROM ds_rb),
ds_ratio AS (
  SELECT ds_rcnt.bucket,
         ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE)
            / CAST(T + 4096 AS DOUBLE))
         - ln(CAST(cr + 1 AS DOUBLE) / CAST(R + 4096 AS DOUBLE)) AS lr
  FROM ds_rcnt LEFT JOIN ds_tcnt USING (bucket)
  CROSS JOIN ds_tt CROSS JOIN ds_rt),
ds_pdb AS (SELECT doc_id, bucket, count(*) AS c
           FROM ds_rb GROUP BY doc_id, bucket),
ds_lw AS (
  SELECT doc_id,
         round(CAST(SUM(CAST(
           floor(CAST(c AS DOUBLE) * lr * 1000000.0) / 1000000.0
           AS DECIMAL(18,6))) AS DOUBLE), 6) AS logw
  FROM ds_pdb JOIN ds_ratio USING (bucket) GROUP BY doc_id),
ds_sc AS (
  SELECT r.doc_id, coalesce(logw, 0.0) AS logw,
         round(coalesce(logw, 0.0)
               - ln(-ln((CAST('0x' || substr(
                     md5('g|dsir|' || CAST(r.doc_id AS VARCHAR)), 1, 8)
                     AS BIGINT) + 1.0) / 4294967297.0)), 6) AS gkey
  FROM (SELECT doc_id FROM v7out) r
  LEFT JOIN ds_lw USING (doc_id)),
ds_top AS (SELECT doc_id, logw, gkey FROM ds_sc
           ORDER BY gkey DESC, doc_id LIMIT 50)
SELECT ds_top.doc_id AS doc_id, v7out.lang AS lang,
       v7out.bucket AS bucket, ds_top.logw AS logw, ds_top.gkey AS gkey
FROM ds_top JOIN v7out ON v7out.doc_id = ds_top.doc_id
"""
)

# UniMax assembly: the unimax_mixture_docs oracle's quota CTE chain
# (everything before its final SELECT) + the shared epoch-fill tail
# (`_unimax_fill_chain`) — all exact integers.
_unimax_prefix = ORACLES["unimax_mixture_docs"].split(
    "\nSELECT source, n_tokens, weight, capped, token_quota,", 1
)[0]
ORACLES["unimax_assemble_docs"] = (
    _unimax_prefix
    + f""",
ua_base AS (
  SELECT doc_id, source,
         CAST(len({_TOKS}) AS BIGINT) AS n_tok
  FROM documents)"""
    + _unimax_fill_chain("ua_base", "q", "ua_")
    + """
SELECT doc_id, source, n_tok, n_copies FROM ua_copies
"""
)

# --- round 16: the full build artifact (v9) -------------------------------
#
# v9 = v8's selected set → leakage-safe splits (train only) → UniMax
# schedule over the selected train docs → packed layout. The oracle
# composes the v8 chain (everything through ds_top), the prefix-
# parameterized neardup cluster chain (nd_), the shared UniMax quota
# (ux_) + epoch-fill (v9_) chains, and the cumsum/pack tail. The
# whole clause becomes WITH RECURSIVE because nd_reach is recursive.
_v8_prefix = ORACLES["training_data_pipeline_v8"].rsplit(
    "\nSELECT ds_top.doc_id AS doc_id", 1
)[0]
assert _v8_prefix.lstrip().startswith("WITH ")
_V9_SPLITS = (
    _v8_prefix.replace("WITH ", "WITH RECURSIVE ", 1)
    + """,
v9sel AS (
  SELECT ds_top.doc_id AS doc_id, v7out.lang AS lang,
         v7out.text_out AS text_out, v7out.out_digest AS out_digest,
         v7out.n_contaminated AS n_contaminated,
         v7out.n_tok AS n_tok, v7out.nll AS nll
  FROM ds_top JOIN v7out ON v7out.doc_id = ds_top.doc_id),"""
    + _neardup_cluster_chain("nd_")
    + """,
v9sp AS (
  SELECT v9sel.doc_id AS doc_id,
         CASE WHEN b < 80 THEN 'train'
              WHEN b < 90 THEN 'valid'
              ELSE 'test' END AS split
  FROM v9sel JOIN (
    SELECT v9sel.doc_id AS did,
           CAST('0x' || substr(md5('split|' || CAST(
                 coalesce(nd_cl.cluster_id, v9sel.doc_id) AS VARCHAR)),
                 1, 8) AS BIGINT) % 100 AS b
    FROM v9sel LEFT JOIN nd_cl ON nd_cl.id = v9sel.doc_id
  ) bk ON bk.did = v9sel.doc_id)"""
)

_V9_TOKS = _TOKS.replace("trim(text)", "trim(text_out)")
ORACLES["training_data_pipeline_v9"] = (
    _V9_SPLITS
    + f""",
v9doc AS (
  SELECT v9sel.doc_id AS doc_id, documents.source AS source,
         CAST(len({_V9_TOKS}) AS BIGINT) AS n_tok
  FROM v9sel
  JOIN v9sp ON v9sp.doc_id = v9sel.doc_id AND v9sp.split = 'train'
  JOIN documents ON documents.doc_id = v9sel.doc_id),
v9t AS (
  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
  FROM v9doc GROUP BY source),"""
    + _unimax_quota_chain("v9t", "ux_")
    + _unimax_fill_chain("v9doc", "ux_q", "v9_")
    + """,
v9ex AS (
  SELECT doc_id, source, n_tok,
         unnest(generate_series(1, n_copies)) AS copy
  FROM v9_copies WHERE n_copies > 0),
v9ord AS (
  SELECT doc_id, source, CAST(copy AS BIGINT) AS copy, n_tok,
         md5(source || '|' || CAST(doc_id AS VARCHAR)
             || '|' || CAST(copy AS VARCHAR)) AS ord
  FROM v9ex),
v9cum AS (
  SELECT doc_id, source, copy, n_tok,
         CAST(SUM(n_tok) OVER (
           ORDER BY ord
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum
  FROM v9ord)
SELECT doc_id, source, copy, n_tok,
       cum - n_tok AS start_offset,
       (cum - n_tok) // 512 AS first_pack,
       greatest(cum - 1, cum - n_tok) // 512 AS last_pack
FROM v9cum
"""
)

# v10 — v9 with the tokenizer: the v9 chain up to the UniMax copy
# relation (word-space epoch decisions), the unrolled BPE chain
# trained on the selected train corpus's text_out (t10_ prefix, the
# composable _bpe_encode_cte), and the layout re-expressed in REAL
# token space: each (doc, copy) occupies len(token_ids) stream
# positions, packs materialize via the shared contents tail.
_V10_CORPUS = f"""SELECT v9sel.doc_id AS doc_id, documents.source AS source,
         {_V9_TOKS} AS toks
  FROM v9sel
  JOIN v9sp ON v9sp.doc_id = v9sel.doc_id AND v9sp.split = 'train'
  JOIN documents ON documents.doc_id = v9sel.doc_id"""

ORACLES["training_data_pipeline_v10"] = (
    ORACLES["training_data_pipeline_v9"][
        : ORACLES["training_data_pipeline_v9"].index(
            "\nSELECT doc_id, source, copy, n_tok,"
        )
    ]
    + ",\n"
    + _bpe_encode_cte(3, p="t10_", corpus=_V10_CORPUS)[len("WITH ") :]
    + _pack_ids_tail(
        "v10_",
        512,
        "SELECT doc_id, source, n_copies FROM v9_copies",
        "t10_enc",
    )
)

# Split-aware report card over the v9 build: the built-corpus card
# families (doc/token totals, digest duplicates, language spread,
# exact nll micro-sum, residual contamination) grouped per split —
# one row per split present.
ORACLES["corpus_report_v9_splits"] = (
    _V9_SPLITS
    + """,
rc9 AS (
  SELECT v9sp.split AS split, v9sel.*
  FROM v9sel JOIN v9sp ON v9sp.doc_id = v9sel.doc_id),
rc9_scal AS (
  SELECT split,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT out_digest) AS BIGINT) AS n_fp,
         CAST(SUM(CAST(round(nll * 10000.0) AS BIGINT)) AS BIGINT)
           AS sum_nll_tenk,
         CAST(SUM(CASE WHEN n_contaminated > 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_contaminated_docs
  FROM rc9 GROUP BY split),
rc9_lgc AS (SELECT split, lang, CAST(count(*) AS BIGINT) AS n
            FROM rc9 GROUP BY split, lang),
rc9_tp AS (SELECT split, max(struct_pack(n := n, l := lang)) AS t,
                  CAST(count(*) AS BIGINT) AS n_langs
           FROM rc9_lgc GROUP BY split)
SELECT rc9_scal.split AS split, n_docs, n_tokens,
       n_docs - n_fp AS n_dup_docs, n_langs,
       t.l AS top_lang, CAST(t.n AS BIGINT) AS top_lang_n,
       sum_nll_tenk, n_contaminated_docs
FROM rc9_scal JOIN rc9_tp ON rc9_tp.split = rc9_scal.split
"""
)

# Leakage-safe splits: the neardup cluster chain (recursive connected
# components over the MinHash-LSH pair graph) as the label CTE,
# singletons their own cluster, split bucket = md5 of the CLUSTER id
# — whole families land in one split by construction.
ORACLES["leakage_safe_splits_docs"] = (
    "WITH RECURSIVE "
    + _neardup_cluster_chain("").strip().lstrip(",")
    + """,
fullc AS (
  SELECT documents.doc_id AS doc_id,
         coalesce(cl.cluster_id, documents.doc_id) AS cluster_id
  FROM documents LEFT JOIN cl ON cl.id = documents.doc_id
),
bk AS (
  SELECT doc_id, cluster_id,
         CAST('0x' || substr(md5('split|' || CAST(cluster_id AS VARCHAR)),
                             1, 8) AS BIGINT) % 100 AS b
  FROM fullc
)
SELECT doc_id, cluster_id,
       CASE WHEN b < 80 THEN 'train'
            WHEN b < 90 THEN 'valid'
            ELSE 'test' END AS split
FROM bk
"""
)

# streaming split assignment == the batch row by construction (frozen
# cluster-label relation; the split is a pure per-document md5 of the
# family id) — the shared oracle pins stream ≡ batch cross-engine.
ORACLES["streaming_leakage_splits_docs"] = ORACLES[
    "leakage_safe_splits_docs"
]

# DoReMi excess-loss domain weights: the frozen bigram reference LM's
# per-doc NLL chain (_DOC_NLL verbatim) -> per-source mean (decimal
# sum, the ccnet_thresholds pattern) -> excess over the easiest
# domain -> exp floor-quantized to integer micros BEFORE the
# normalization, so the softmax is exact integers and only the final
# ratio is an (identically-ordered) double.
ORACLES["doremi_weights_docs"] = _DOC_NLL + """,
dm_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         round(CAST(SUM(CAST(nll AS DECIMAL(18,6))) AS DOUBLE)
               / count(*), 4) AS mean_nll
  FROM nlls JOIN documents USING (doc_id)
  GROUP BY source),
dm_mn AS (SELECT MIN(mean_nll) AS mmin FROM dm_src),
dm_ex AS (
  SELECT source, n_docs, mean_nll,
         round(mean_nll - mmin, 4) AS excess,
         CAST(floor(exp(1.0 * round(mean_nll - mmin, 4)) * 1000000.0)
              AS BIGINT) AS ew
  FROM dm_src CROSS JOIN dm_mn),
dm_tot AS (SELECT CAST(SUM(ew) AS BIGINT) AS wsum FROM dm_ex)
SELECT source, n_docs, mean_nll, excess,
       round(CAST(ew AS DOUBLE) / CAST(wsum AS DOUBLE), 6) AS weight
FROM dm_ex CROSS JOIN dm_tot
"""

# Iterated DoReMi: 4 Hedge rounds w' = floor(w·exp(η·excess))·10⁶ //
# Σ, per-round micro-quantized (the PageRank oracle pattern — the
# oracle recomputes EVERY round, pinning the trajectory, not just the
# fixed point); weight = final iterate, weight_avg = mean of iterates
# (the published DoReMi mixture).
_DMI_ROUNDS = 4


def _doremi_iter_chain(rounds: int, eta: float = 1.0) -> str:
    ctes = [
        """
di_mn AS (SELECT MIN(mean_nll) AS mmin FROM dm_src),
di_w0 AS (
  SELECT source, n_docs, mean_nll,
         round(mean_nll - mmin, 4) AS excess,
         CAST(1000000 AS BIGINT) AS w, CAST(0 AS BIGINT) AS wa
  FROM dm_src CROSS JOIN di_mn)"""
    ]
    for t in range(1, rounds + 1):
        ctes.append(f"""
di_e{t} AS (
  SELECT source, n_docs, mean_nll, excess, wa,
         CAST(floor(CAST(w AS DOUBLE) * exp({eta} * excess)) AS BIGINT)
           AS ew
  FROM di_w{t - 1}),
di_w{t} AS (
  SELECT source, n_docs, mean_nll, excess,
         CAST(ew * CAST(1000000 AS BIGINT)
              // (SUM(ew) OVER ()) AS BIGINT) AS w,
         wa + CAST(ew * CAST(1000000 AS BIGINT)
                   // (SUM(ew) OVER ()) AS BIGINT) AS wa
  FROM di_e{t})""")
    return ",".join(ctes)


ORACLES["doremi_iterated_docs"] = (
    _DOC_NLL
    + """,
dm_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         round(CAST(SUM(CAST(nll AS DECIMAL(18,6))) AS DOUBLE)
               / count(*), 4) AS mean_nll
  FROM nlls JOIN documents USING (doc_id)
  GROUP BY source),"""
    + _doremi_iter_chain(_DMI_ROUNDS)
    + f"""
SELECT source, n_docs, mean_nll, excess,
       round(CAST(w AS DOUBLE) / 1000000.0, 6) AS weight,
       round(CAST(wa AS DOUBLE) / ({_DMI_ROUNDS} * 1000000.0), 6)
         AS weight_avg
FROM di_w{_DMI_ROUNDS}
"""
)

# Trained quality classifier: 3 rounds of full-batch hard-sigmoid
# gradient descent over the quantized logit_features relation, labels
# from the "≥50 tokens and ≥3% stopwords" rule gate. The oracle
# recomputes EVERY round (the PageRank/iterated-DoReMi pattern): the
# per-document sigmoid floor-quantizes to integer micros, the gradient
# is an exact integer sum of residual·feature micros products, each
# round's weights round-quantize back to 6 decimals — so the whole
# trajectory (steps 0..3) is pinned cross-engine, no libm exp anywhere.
_LT_ROUNDS = 3
_LT_ETA = 4.0

# feature scale + teacher-rule thresholds: interpolated from the SAME
# quality.py constants the Spark side uses (ADVICE r16 — duplicated
# literals forked train/oracle silently on a one-sided edit)
from farmrpg_etl_spark.operators.quality import (  # noqa: E402
    LOGIT_NTOK_SCALE as _LT_NTOK_SCALE,
    LOGIT_RULE_MIN_STOP as _LT_RULE_MIN_STOP,
    LOGIT_RULE_MIN_TOK as _LT_RULE_MIN_TOK,
)


def _logit_train_chain(rounds: int, eta: float) -> str:
    ctes = [
        """
lt_w0 AS (SELECT 0.0 AS w_bias, 0.0 AS w_ntok, 0.0 AS w_punct,
                 0.0 AS w_stop, 0.0 AS w_dist)"""
    ]
    z = (
        "round(w_bias + w_ntok * x_ntok + w_punct * x_punct"
        " + w_stop * x_stop + w_dist * x_dist, 6)"
    )
    r = (
        f"CAST(floor(least(greatest(0.5 + {z} / 4.0, 0.0), 1.0)"
        " * 1000000.0) AS BIGINT) - y * 1000000"
    )
    for t in range(1, rounds + 1):
        ctes.append(f"""
lt_a{t} AS (
  SELECT
    CAST(greatest(count(*), 1) AS DOUBLE) * 1000000000000.0 AS den,
    CAST(coalesce(SUM(r * 1000000), 0) AS DOUBLE) AS g_bias,
    CAST(coalesce(SUM(r * xn_m), 0) AS DOUBLE) AS g_ntok,
    CAST(coalesce(SUM(r * xp_m), 0) AS DOUBLE) AS g_punct,
    CAST(coalesce(SUM(r * xs_m), 0) AS DOUBLE) AS g_stop,
    CAST(coalesce(SUM(r * xd_m), 0) AS DOUBLE) AS g_dist,
    coalesce(max(w_bias), 0.0) AS w_bias,
    coalesce(max(w_ntok), 0.0) AS w_ntok,
    coalesce(max(w_punct), 0.0) AS w_punct,
    coalesce(max(w_stop), 0.0) AS w_stop,
    coalesce(max(w_dist), 0.0) AS w_dist
  FROM (SELECT lt_lab.*, w.*, {r} AS r
        FROM lt_lab CROSS JOIN lt_w{t - 1} w)),
lt_w{t} AS (
  SELECT round(w_bias - {eta} * (g_bias / den), 6) AS w_bias,
         round(w_ntok - {eta} * (g_ntok / den), 6) AS w_ntok,
         round(w_punct - {eta} * (g_punct / den), 6) AS w_punct,
         round(w_stop - {eta} * (g_stop / den), 6) AS w_stop,
         round(w_dist - {eta} * (g_dist / den), 6) AS w_dist
  FROM lt_a{t})""")
    return ",".join(ctes)


# Shared feature+label chain: quantized logit_features + the rule
# gate labels + feature micros, doc_id/n_tok carried through so the
# apply/filter oracle can score per document from the same relation.
_LT_FEATS = f"""
WITH d AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
f AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_tok,
    CASE WHEN text IS NULL OR len(text) = 0 THEN 0.0
         ELSE CAST(len(regexp_replace(text, '{_PUNCT}', '', 'g')) AS DOUBLE)
              / len(text) END AS praw,
    CAST(len(list_distinct(toks)) AS BIGINT) AS n_dist,
    len(list_filter(toks,
        x -> list_contains(['the','and','of','to','a'], x))) AS stop_hits
  FROM d
),
lt_f AS (
  SELECT doc_id, n_tok,
    round(least(n_tok, 1000) / {_LT_NTOK_SCALE}.0, 6) AS x_ntok,
    round(praw, 6) AS x_punct,
    round(CASE WHEN n_tok = 0 THEN 0.0
          ELSE CAST(stop_hits AS DOUBLE) / CAST(n_tok AS DOUBLE) END, 6)
      AS x_stop,
    round(CASE WHEN n_tok = 0 THEN 0.0
          ELSE CAST(n_dist AS DOUBLE) / CAST(n_tok AS DOUBLE) END, 6)
      AS x_dist
  FROM f
),
lt_lab AS (
  SELECT doc_id, n_tok, x_ntok, x_punct, x_stop, x_dist,
    CAST(CASE WHEN n_tok >= {_LT_RULE_MIN_TOK} AND x_stop >= {_LT_RULE_MIN_STOP}
              THEN 1 ELSE 0 END AS BIGINT) AS y,
    CAST(round(x_ntok * 1000000.0) AS BIGINT) AS xn_m,
    CAST(round(x_punct * 1000000.0) AS BIGINT) AS xp_m,
    CAST(round(x_stop * 1000000.0) AS BIGINT) AS xs_m,
    CAST(round(x_dist * 1000000.0) AS BIGINT) AS xd_m
  FROM lt_f
),"""

ORACLES["logit_train_docs"] = (
    _LT_FEATS
    + _logit_train_chain(_LT_ROUNDS, _LT_ETA)
    + "\n"
    + "\nUNION ALL ".join(
        f"SELECT CAST({t} AS INT) AS step, w_bias, w_ntok, w_punct,"
        f" w_stop, w_dist FROM lt_w{t}"
        for t in range(_LT_ROUNDS + 1)
    )
    + "\n"
)

# Train → deploy: score every document with the TRAINED weights (the
# final round's 1-row relation cross-joined back), label on the
# 6-decimal-quantized score; rule_y rides along so the published
# relation pins the trained gate's agreement with its teacher rule.
ORACLES["logit_train_filter_docs"] = (
    _LT_FEATS
    + _logit_train_chain(_LT_ROUNDS, _LT_ETA)
    + f"""
SELECT doc_id, n_tok,
  round(w_bias + w_ntok * x_ntok + w_punct * x_punct
        + w_stop * x_stop + w_dist * x_dist, 6) AS score,
  CASE WHEN round(w_bias + w_ntok * x_ntok + w_punct * x_punct
                  + w_stop * x_stop + w_dist * x_dist, 6) >= 0
       THEN 'keep' ELSE 'drop' END AS label,
  y AS rule_y
FROM lt_lab CROSS JOIN lt_w{_LT_ROUNDS}
"""
)

# The streaming v9 twin freezes the whole build plan per snapshot
# (globals, DSIR ratio + floor, splits, schedule) and streams the
# per-document selection — union over micro-batches == the batch
# build, so the shared oracle pins stream ≡ batch cross-engine.
ORACLES["streaming_pipeline_v9"] = ORACLES["training_data_pipeline_v9"]

# The streaming classifier twin trains batch-side (full-batch GD needs
# the whole-corpus gradient) and scores per micro-batch against the
# frozen 1-row weights — union over batches == the batch scoring, so
# the shared oracle pins stream ≡ batch cross-engine.
ORACLES["streaming_logit_filter_docs"] = ORACLES["logit_train_filter_docs"]

# Hashed-feature classifier (DCLM/fastText shape): constants from the
# SAME quality.py module the Spark side trains with.
from farmrpg_etl_spark.operators.quality import (  # noqa: E402
    HL_BUCKETS as _HL_BUCKETS,
    HL_ETA as _HL_ETA,
    HL_ROUNDS as _HL_ROUNDS,
    HL_TF_SCALE as _HL_TF_SCALE,
)


def _hl_chain(rounds: float, eta: float) -> str:
    """CTE chain for the hashed classifier: word+bigram grams hashed
    into buckets (portable '0x'||md5-slice), tf features ×HL_TF_SCALE
    quantized to micros, then ``rounds`` unrolled GD rounds with the
    weights as a bucket-keyed relation — per-document logit = exact
    DECIMAL(38,0) Σ w_micros·x_micros, hard sigmoid floor-quantized,
    per-bucket gradient one keyed aggregate. Mirrors
    ``quality.logit_train_hashed`` step for step; appends to the
    ``_LT_FEATS`` chain (labels come from lt_lab). AS MATERIALIZED on
    every multiply-referenced CTE — DuckDB re-inlines otherwise and
    the K-round chain explodes (the KN5 lesson)."""
    denom = (
        "(CAST((SELECT n FROM hl_n) AS DOUBLE) * 1000000000000.0)"
    )
    parts = [
        f"""
hl_gr AS MATERIALIZED (
  SELECT doc_id,
         list_concat(toks, CASE WHEN len(toks) >= 2
           THEN list_transform(generate_series(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i + 1])
           ELSE CAST([] AS VARCHAR[]) END) AS grams
  FROM d),
hl_inst AS (
  SELECT doc_id, len(grams) AS ng, unnest(grams) AS g FROM hl_gr),
hl_f AS MATERIALIZED (
  SELECT doc_id,
         CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % {_HL_BUCKETS}
           AS bucket,
         CAST(round(round(({_HL_TF_SCALE}.0 * CAST(count(*) AS DOUBLE))
                          / CAST(ng AS DOUBLE), 6)
                    * 1000000.0) AS BIGINT) AS xm
  FROM hl_inst GROUP BY doc_id, ng, bucket),
hl_n AS (SELECT greatest(count(*), 1) AS n FROM lt_lab),
hw0 AS MATERIALIZED (
  SELECT DISTINCT bucket, 0.0 AS w FROM hl_f),
hb0 AS (SELECT 0.0 AS wb)"""
    ]
    for t in range(1, rounds + 1):
        parts.append(f"""
hz{t} AS MATERIALIZED (
  SELECT f.doc_id,
         SUM(CAST(CAST(round(w.w * 1000000.0) AS BIGINT) * f.xm
                  AS DECIMAL(38,0))) AS zp
  FROM hl_f f JOIN hw{t - 1} w USING (bucket) GROUP BY f.doc_id),
hr{t} AS MATERIALIZED (
  SELECT l.doc_id,
         CAST(floor(least(greatest(
             0.5 + round(coalesce(CAST(zp AS DOUBLE), 0.0)
                         / 1000000000000.0 + b.wb, 6) / 4.0,
             0.0), 1.0) * 1000000.0) AS BIGINT)
           - l.y * 1000000 AS r
  FROM lt_lab l LEFT JOIN hz{t} USING (doc_id) CROSS JOIN hb{t - 1} b),
hb{t} AS (
  SELECT round(b.wb - {eta} * (
      CAST(coalesce((SELECT SUM(CAST(r * 1000000 AS DECIMAL(38,0)))
                     FROM hr{t}), 0) AS DOUBLE) / {denom}), 6) + 0.0 AS wb
  FROM hb{t - 1} b),
hg{t} AS (
  SELECT f.bucket, SUM(CAST(r.r * f.xm AS DECIMAL(38,0))) AS g
  FROM hl_f f JOIN hr{t} r USING (doc_id) GROUP BY f.bucket),
hw{t} AS MATERIALIZED (
  SELECT w.bucket, round(w.w - {eta} * (
      CAST(coalesce(g.g, 0) AS DOUBLE) / {denom}), 6) + 0.0 AS w
  FROM hw{t - 1} w LEFT JOIN hg{t} g USING (bucket))""")
    return ",".join(parts)


ORACLES["logit_train_hashed_docs"] = (
    _LT_FEATS
    + _hl_chain(_HL_ROUNDS, _HL_ETA)
    + "\n"
    + "\nUNION ALL ".join(
        f"SELECT CAST({t} AS INT) AS step, bucket, w FROM hw{t}"
        f"\nUNION ALL SELECT CAST({t} AS INT) AS step,"
        f" CAST(-1 AS BIGINT) AS bucket, wb AS w FROM hb{t}"
        for t in range(_HL_ROUNDS + 1)
    )
    + "\n"
)

# Train -> deploy: score every document against the final round's
# bucket-keyed weights with the same exact integer logit the trainer
# used; label on the quantized score's sign, rule_y rides along.
ORACLES["logit_hashed_filter_docs"] = (
    _LT_FEATS
    + _hl_chain(_HL_ROUNDS, _HL_ETA)
    + f""",
hzf AS (
  SELECT f.doc_id,
         SUM(CAST(CAST(round(w.w * 1000000.0) AS BIGINT) * f.xm
                  AS DECIMAL(38,0))) AS zp
  FROM hl_f f JOIN hw{_HL_ROUNDS} w USING (bucket) GROUP BY f.doc_id),
hsc AS (
  SELECT l.doc_id,
         round(coalesce(CAST(zp AS DOUBLE), 0.0) / 1000000000000.0
               + b.wb, 6) + 0.0 AS score,
         l.y
  FROM lt_lab l LEFT JOIN hzf USING (doc_id)
  CROSS JOIN hb{_HL_ROUNDS} b)
SELECT doc_id, score,
       CASE WHEN score >= 0 THEN 'keep' ELSE 'drop' END AS label,
       y AS rule_y
FROM hsc
"""
)

# Frozen bucket-keyed weights + stateless per-document scoring: the
# union over micro-batches IS the batch scoring.
ORACLES["streaming_logit_hashed_filter_docs"] = ORACLES[
    "logit_hashed_filter_docs"
]
