"""DuckDB oracle SQL for every entry in ``__spark_entry__.queries()``.

Each oracle reproduces the SAME deterministic algorithm as the Spark query
(same md5-derived hash families, same fold orders, same rounding), so the
driver's row-count + schema + value-hash comparison is exact, not
approximate. Tables are pre-registered DuckDB views over the same parquet.

Portability conventions:

- DECIMAL(18,4) pre-aggregation casts mirror the Spark side (exact sums);
- counts/sums cast to BIGINT/DOUBLE to pin result types;
- DuckDB ``date_trunc('day', ts)`` returns DATE → cast back to TIMESTAMP;
- list comprehensions mirror Spark higher-order functions 1:1;
- decimal sums destined for DOUBLE output are quantized to <= 4 dp in
  decimal space first when their magnitude can exceed 53 bits (DuckDB's
  decimal->double is double-rounded; Java's is correctly rounded — 1-ulp
  divergence at >= 17 significant digits, observed at sf0.1);
- outputs that would be a `round(sum/n, 6)` float mean are emitted as
  exact integer micro-units instead (round-half tie-breaking on the same
  double differs between engines).
"""

from __future__ import annotations

# ---- shared fragments -----------------------------------------------------

# lowercase whitespace tokens (documents.text is single-spaced lowercase)
TOKS = "list_filter(string_split(lower(text), ' '), x -> x <> '')"

# distinct sorted 3-token shingles, matching operators.dedup.shingles(n=3)
SHINGLES = (
    "CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[]) ELSE "
    "list_sort(list_distinct([array_to_string(toks[i:i+2], ' ') "
    "for i in range(1, greatest(len(toks) - 2, 1) + 1)])) END"
)

_REV = "CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))"


_MINHASH_P = 2_147_483_647


def _minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Same fixed affine family as dedup.minhash_coeffs."""
    out = []
    for i in range(num_hashes):
        a = (2_654_435_761 * (i + 1)) % _MINHASH_P or 1
        b = (40_503 * (i + 1)) % _MINHASH_P
        out.append((a, b))
    return out


def _minhash_vals() -> str:
    """Per-shingle hash values (32-bit md5 prefix mod p) over column ``sh``
    — computed once, reused by every family member."""
    h = _hex_to_long("md5(s)", 8)
    return f"[{h} % {_MINHASH_P} for s in sh]"


def _minhash_sig(num_hashes: int = 16) -> str:
    """MinHash signature mirroring dedup.minhash_signature: affine family
    min-folded over a precomputed ``vals`` column (see _minhash_vals)."""
    elems = ", ".join(
        f"coalesce(list_min([({a} * v + {b}) % {_MINHASH_P} for v in vals]), {_MINHASH_P})"
        for a, b in _minhash_coeffs(num_hashes)
    )
    return f"[{elems}]"


def _bands(bands: int = 8, rows_per_band: int = 2) -> str:
    """Band keys mirroring minhash_lsh_pairs: base-p positional combine of
    each signature slice (exact in BIGINT for rows_per_band ≤ 2)."""
    assert rows_per_band <= 2
    return (
        f"[list_reduce(sig[b*{rows_per_band}+1:b*{rows_per_band}+{rows_per_band}], "
        f"(acc, v) -> acc * {_MINHASH_P} + v) "
        f"for b in range(0, {bands})]"
    )


# Degenerate-LSH-bucket cap shared by the Spark operators
# (dedup.minhash_lsh_pairs ``max_bucket``) and every LSH oracle below: both
# sides drop (band, bucket) groups larger than this before the quadratic
# self-join, so results stay hash-identical while the blow-up guard is REAL
# (a 10⁶-doc degenerate band would otherwise emit ~10¹² candidate pairs at
# 100 TB). Deterministic md5-derived band keys make the mirror exact.
LSH_MAX_BUCKET = 1000

_CAPPED_BANDS = f"""capped AS (
  SELECT doc_id, band, bucket FROM (
    SELECT doc_id, band, bucket,
      COUNT(*) OVER (PARTITION BY band, bucket) AS bsz
    FROM bands)
  WHERE bsz <= {LSH_MAX_BUCKET}),"""


_JACCARD = (
    "CASE WHEN len(list_distinct(a.sh || b.sh)) = 0 THEN 0.0 "
    "ELSE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) "
    "/ CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 6) END"
)


def _dot(x: str, y: str, dim: int = 64) -> str:
    return (
        f"list_sum([CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE) "
        f"for i in range(1, {dim + 1})])"
    )


def _hex_to_long(expr: str, nchars: int) -> str:
    """Portable hex→integer: positional digit arithmetic over ``nchars``
    leading hex chars of VARCHAR expression ``expr``."""
    return (
        "CAST(list_sum([(strpos('0123456789abcdef', substr(" + expr + ", j, 1)) - 1) "
        f"* power(16, {nchars} - j) for j in range(1, {nchars + 1})]) AS BIGINT)"
    )


def _simhash_fp_ctes() -> str:
    """CTE chain computing per-doc 32-bit SimHash mirroring dedup.simhash:
    per-token 32-bit md5-prefix values (with multiplicity); bit b set iff
    the (+1/-1 vote sum) > 0. Ends with ``fps(doc_id, fp)``."""
    val = _hex_to_long("md5(t)", 8)
    terms = []
    for b in range(32):
        power = 2 ** b
        terms.append(
            f"(CASE WHEN 2 * len(list_filter(vals, v -> CAST(floor(v / {power}.0) AS BIGINT) % 2 = 1)) "
            f"- len(vals) > 0 THEN CAST({power} AS BIGINT) ELSE 0 END)"
        )
    fp = " + ".join(terms)
    return f"""t AS (
  SELECT doc_id, [{val} for t in {TOKS}] AS vals FROM documents
),
fps AS (SELECT doc_id, CAST({fp} AS BIGINT) AS fp FROM t)"""


def _simhash_sql() -> str:
    return f"""
WITH {_simhash_fp_ctes()}
SELECT doc_id, fp AS simhash32 FROM fps
"""


_CDC_HASH = (
    "md5(concat(o_orderstatus, '|', CAST(CAST(CAST(o_totalprice AS DECIMAL(18,4)) "
    "* 10000 AS BIGINT) AS VARCHAR)))"
)

_LANG_CASES = """
CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
     WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
     WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
     WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
     ELSE 'fr' END
"""

_PROFILES_SQL = {
    "en": "['the','and','of','to','a','in','is','that','for','with']",
    "es": "['el','la','de','que','y','en','un','es','por','con']",
    "fr": "['le','la','de','et','les','des','en','un','est','que']",
    "de": "['der','die','und','das','von','zu','mit','ist','den','ein']",
}

ORACLES: dict[str, str] = {}

ORACLES["q1_pricing_summary"] = f"""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
  CAST(CAST(SUM({_REV}) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_disc,
  CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

ORACLES["q3_top_revenue_orders"] = f"""
SELECT o_orderkey, o_orderdate, o_orderpriority,
  CAST(CAST(SUM({_REV}) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""

ORACLES["q5_nation_revenue"] = f"""
SELECT n_name,
  CAST(CAST(SUM({_REV}) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""

ORACLES["filter_dsl_scan"] = """
SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
FROM lineitem
WHERE l_returnflag = 'R' AND l_quantity >= 30
  AND l_linestatus IN ('F', 'O')
  AND l_discount BETWEEN 0.02 AND 0.08
"""

ORACLES["projection_cast_nvl"] = """
SELECT CAST(c_custkey AS BIGINT) AS custkey,
  CASE WHEN c_mktsegment IS NULL OR trim(c_mktsegment) = '' THEN 'UNKNOWN'
       ELSE trim(c_mktsegment) END AS mktsegment,
  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal,
  CASE WHEN c_acctbal < 0 THEN 'overdrawn' ELSE 'ok' END AS acct_status
FROM customer
"""

ORACLES["agg_dispatch"] = """
SELECT l_suppkey,
  CAST(MIN(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS min_qty,
  CAST(MAX(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS max_qty,
  CAST(COUNT(*) AS BIGINT) AS cnt,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
FROM lineitem
GROUP BY l_suppkey
"""

ORACLES["window_latest_order"] = """
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders)
WHERE rn = 1
"""

ORACLES["top_k_per_group"] = """
SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rn AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders)
WHERE rn <= 3
"""

ORACLES["set_ops"] = """
WITH with_orders AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
rich AS (SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000)
SELECT custkey, 'both' AS setop
FROM (SELECT custkey FROM with_orders INTERSECT SELECT custkey FROM rich)
UNION ALL
SELECT custkey, 'rich_only' AS setop
FROM (SELECT custkey FROM rich EXCEPT ALL SELECT custkey FROM with_orders)
"""

ORACLES["cdc_merge"] = f"""
WITH old AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, {_CDC_HASH} AS hashcode
  FROM orders WHERE o_orderkey % 10 < 8),
new_raw AS (
  SELECT o_orderkey, o_orderstatus,
    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10 ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 10 >= 4),
newh AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, {_CDC_HASH} AS hashcode FROM new_raw),
inserts AS (
  SELECT n.o_orderkey, n.o_orderstatus, n.o_totalprice
  FROM newh n LEFT JOIN old o ON n.o_orderkey = o.o_orderkey
  WHERE o.o_orderkey IS NULL),
updates AS (
  SELECT n.o_orderkey, n.o_orderstatus, n.o_totalprice
  FROM newh n JOIN old o ON n.o_orderkey = o.o_orderkey
  WHERE n.hashcode <> o.hashcode)
SELECT DISTINCT * FROM (SELECT * FROM inserts UNION ALL SELECT * FROM updates)
"""

ORACLES["word_count"] = """
SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
WHERE word <> ''
GROUP BY word
"""

ORACLES["exact_dedup"] = """
SELECT CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM documents GROUP BY text
"""

ORACLES["array_explode"] = f"""
SELECT doc_id,
  CAST(unnest(generate_series(1, len(toks))) - 1 AS INT) AS array_index,
  unnest(toks) AS token
FROM (SELECT doc_id, {TOKS} AS toks FROM documents WHERE doc_id < 50)
"""

ORACLES["json_flatten"] = """
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(props->>'$.k' AS INTEGER) AS k
FROM events WHERE props IS NOT NULL
"""

ORACLES["sessionize"] = """
WITH marked AS (
  SELECT user_id,
    CASE WHEN (epoch_us(ts) // 1000000) - lag(epoch_us(ts) // 1000000) OVER w > 1800
         THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id,
  CAST(SUM(new_sess) + 1 AS BIGINT) AS n_sessions,
  CAST(COUNT(*) AS BIGINT) AS n_events
FROM marked GROUP BY user_id
"""

ORACLES["debounce_events"] = """
WITH w AS (
  SELECT event_id, user_id, event_type, ts,
    lag(epoch_us(ts) // 1000000) OVER (
      PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev
  FROM events)
SELECT event_id, user_id, event_type, ts
FROM w
WHERE prev IS NULL OR (epoch_us(ts) // 1000000) - prev > 300
"""

ORACLES["duration_buckets"] = """
WITH base AS (
  SELECT event_id,
    CAST(CAST(value AS DECIMAL(18,4)) * 60 AS DOUBLE) AS secs
  FROM events),
parts AS (
  SELECT event_id, secs, round(secs, 6) AS total,
    CAST(floor(round(secs, 6) / 3600) AS BIGINT) AS h
  FROM base),
parts2 AS (
  SELECT *, CAST(floor((total - h * 3600) / 60) AS BIGINT) AS m FROM parts),
parts3 AS (
  SELECT *, round(total - h * 3600 - m * 60, 6) AS s FROM parts2)
SELECT event_id,
  round(secs, 4) AS total_seconds,
  CASE WHEN total = 0 THEN 'P0D'
       ELSE concat('PT',
         CASE WHEN h > 0 THEN concat(CAST(h AS VARCHAR), 'H') ELSE '' END,
         CASE WHEN m > 0 THEN concat(CAST(m AS VARCHAR), 'M') ELSE '' END,
         CASE WHEN s > 0 THEN concat(regexp_replace(printf('%.6f', s), '\\.?0+$', ''), 'S') ELSE '' END)
  END AS iso_duration,
  CASE WHEN secs IS NULL THEN 'invalid'
       WHEN secs < 1800 THEN 'easy'
       WHEN secs <= 3600 THEN 'medium'
       ELSE 'hard' END AS difficulty
FROM parts3
"""

ORACLES["lookup_mapping"] = """
SELECT event_id, event_type,
  CASE event_type WHEN 'click' THEN 'CLICK_EVENT'
                  WHEN 'view' THEN 'VIEW_EVENT'
                  WHEN 'purchase' THEN 'BUY_EVENT'
                  ELSE event_type END AS mapped_type
FROM events
"""

ORACLES["events_by_day"] = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""

ORACLES["dq_summary"] = """
WITH tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM documents),
dup_doc AS (
  SELECT CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT) AS v
  FROM (SELECT COUNT(*) AS cnt FROM documents GROUP BY doc_id HAVING COUNT(*) > 1)),
dup_text AS (
  SELECT CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT) AS v
  FROM (SELECT COUNT(*) AS cnt FROM documents GROUP BY text HAVING COUNT(*) > 1)),
nn_text AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END), 0) AS BIGINT) AS v
  FROM documents),
nn_lang AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN lang IS NULL OR trim(lang) = '' THEN 1 ELSE 0 END), 0) AS BIGINT) AS v
  FROM documents)
SELECT '1001' AS rule_id, (SELECT v FROM dup_doc) = 0 AS passed,
       (SELECT v FROM dup_doc) AS violation_count, (SELECT total FROM tot) AS total_count
UNION ALL
SELECT '1002', (SELECT v FROM dup_text) = 0, (SELECT v FROM dup_text), (SELECT total FROM tot)
UNION ALL
SELECT '1003', (SELECT v FROM nn_text) = 0, (SELECT v FROM nn_text), (SELECT total FROM tot)
UNION ALL
SELECT '1004', (SELECT v FROM nn_lang) = 0, (SELECT v FROM nn_lang), (SELECT total FROM tot)
"""

ORACLES["lang_id"] = f"""
WITH scored AS (
  SELECT doc_id,
    len(list_intersect(toks, {_PROFILES_SQL['de']})) AS s_de,
    len(list_intersect(toks, {_PROFILES_SQL['en']})) AS s_en,
    len(list_intersect(toks, {_PROFILES_SQL['es']})) AS s_es,
    len(list_intersect(toks, {_PROFILES_SQL['fr']})) AS s_fr
  FROM (SELECT doc_id, list_distinct({TOKS}) AS toks FROM documents))
SELECT doc_id, {_LANG_CASES} AS lang_pred FROM scored
"""

ORACLES["text_quality"] = f"""
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  round(CAST(length(replace(lower(text), ' ', '')) AS DOUBLE)
    / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS avg_token_len,
  round(CAST(len(list_filter(toks, x -> list_contains({_PROFILES_SQL['en']}, x))) AS DOUBLE)
    / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS stopword_ratio,
  round(CAST(len(list_distinct(toks)) AS DOUBLE)
    / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS uniq_token_ratio
FROM (SELECT doc_id, text, {TOKS} AS toks FROM documents)
"""

ORACLES["token_stats"] = f"""
SELECT doc_id,
  CAST(len({TOKS}) AS BIGINT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens
FROM documents
"""

ORACLES["doc_fingerprint"] = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {SHINGLES} AS sh FROM t)
SELECT doc_id,
  md5(coalesce(array_to_string(
    list_sort([md5(x) for x in sh])[1:4], '|'), '')) AS fp
FROM s
"""

_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
_PII_IP = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

ORACLES["pii_scrub"] = f"""
WITH seeded AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0
         THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 555-123-4567 at 10.0.0.'
              || CAST(doc_id % 256 AS VARCHAR)
         ELSE text END AS text
  FROM documents),
pass1 AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
    regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g') AS text
  FROM seeded),
pass2 AS (
  SELECT doc_id, n_email,
    CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
    regexp_replace(text, '{_PII_PHONE}', '<PHONE>', 'g') AS text
  FROM pass1),
pass3 AS (
  SELECT doc_id, n_email, n_phone,
    CAST(len(regexp_extract_all(text, '{_PII_IP}')) AS BIGINT) AS n_ip,
    regexp_replace(text, '{_PII_IP}', '<IP>', 'g') AS text
  FROM pass2)
SELECT doc_id, n_email, n_phone, n_ip, md5(text) AS scrubbed_md5 FROM pass3
"""

ORACLES["decontamination"] = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {SHINGLES} AS sh FROM t),
ev AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 97 = 0),
ex AS (SELECT doc_id, unnest(sh) AS g FROM s),
hits AS (
  SELECT ex.doc_id, CAST(COUNT(DISTINCT ex.g) AS BIGINT) AS n_contaminated
  FROM ex JOIN ev ON ex.g = ev.g GROUP BY 1)
SELECT s.doc_id,
  CAST(len(s.sh) AS BIGINT) AS n_shingles,
  CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
  round(CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE)
        / CAST(greatest(len(s.sh), 1) AS DOUBLE), 6) AS ratio
FROM s LEFT JOIN hits h ON s.doc_id = h.doc_id
"""

ORACLES["ngram_jaccard"] = f"""
WITH t AS (SELECT doc_id, lang, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, lang, {SHINGLES} AS sh FROM t),
ex AS (SELECT doc_id, lang, len(sh) AS sz, unnest(sh) AS g FROM s),
co AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
    count(*) AS inter
  FROM ex a JOIN ex b ON a.lang = b.lang AND a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
  round(CAST(inter AS DOUBLE) / CAST(sz_a + sz_b - inter AS DOUBLE), 6) AS jaccard
FROM co
WHERE round(CAST(inter AS DOUBLE) / CAST(sz_a + sz_b - inter AS DOUBLE), 6) >= 0.5
"""

ORACLES["minhash_lsh"] = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {SHINGLES} AS sh FROM t),
v AS (SELECT doc_id, sh, {_minhash_vals()} AS vals FROM s),
sigs AS (SELECT doc_id, sh, {_minhash_sig(16)} AS sig FROM v),
bands AS (
  SELECT doc_id,
    unnest(range(0, 8)) AS band,
    unnest({_bands(8, 2)}) AS bucket
  FROM sigs),
{_CAPPED_BANDS}
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a JOIN capped b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id)
SELECT CAST(c.id_a AS BIGINT) AS id_a, CAST(c.id_b AS BIGINT) AS id_b,
  {_JACCARD} AS jaccard
FROM cands c
JOIN s a ON a.doc_id = c.id_a
JOIN s b ON b.doc_id = c.id_b
WHERE {_JACCARD} >= 0.5
"""

ORACLES["simhash_fp"] = _simhash_sql()

ORACLES["embedding_topk"] = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
    round(CASE WHEN sqrt({_dot('qv', 'qv')}) * sqrt({_dot('cv', 'cv')}) > 0
          THEN {_dot('qv', 'cv')} / (sqrt({_dot('qv', 'qv')}) * sqrt({_dot('cv', 'cv')}))
          ELSE 0.0 END, 6) AS cosine
  FROM c, q WHERE query_id <> neighbor_id)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(neighbor_id AS BIGINT) AS neighbor_id,
       CAST(rn AS INT) AS rank, cosine
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
      FROM scored)
WHERE rn <= 5
"""

ORACLES["embedding_neardup"] = f"""
WITH e AS (SELECT vec_id, embedding, {{SRP4}} AS bkt FROM embeddings)
SELECT CAST(a.vec_id AS BIGINT) AS id_a, CAST(b.vec_id AS BIGINT) AS id_b,
  round(CASE WHEN sqrt({_dot('a.embedding', 'a.embedding')}) * sqrt({_dot('b.embedding', 'b.embedding')}) > 0
        THEN {_dot('a.embedding', 'b.embedding')}
             / (sqrt({_dot('a.embedding', 'a.embedding')}) * sqrt({_dot('b.embedding', 'b.embedding')}))
        ELSE 0.0 END, 6) AS cosine
FROM e a JOIN e b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
WHERE round(CASE WHEN sqrt({_dot('a.embedding', 'a.embedding')}) * sqrt({_dot('b.embedding', 'b.embedding')}) > 0
      THEN {_dot('a.embedding', 'b.embedding')}
           / (sqrt({_dot('a.embedding', 'a.embedding')}) * sqrt({_dot('b.embedding', 'b.embedding')}))
      ELSE 0.0 END, 6) >= 0.5
"""

ORACLES["multimodal_features"] = f"""
SELECT CAST(doc_id AS BIGINT) AS media_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  sha256(text) AS sha256,
  round({_hex_to_long('sha256(text)', 8)} / 4294967295.0, 6) AS feature_0
FROM documents
"""

ORACLES["metadata_pipeline"] = """
SELECT l_returnflag AS returnflag,
  CASE WHEN p.p_partkey IS NULL THEN NULL
       WHEN p.p_brand IS NULL OR trim(p.p_brand) = '' THEN '-'
       ELSE trim(p.p_brand) END AS brand,
  CAST(p.p_size AS INTEGER) AS p_size,
  CAST(COUNT(l_orderkey) AS BIGINT) AS n_items,
  CAST(MIN(p.p_retailprice) AS DOUBLE) AS min_price
FROM lineitem
LEFT JOIN (SELECT * FROM part WHERE p_size >= 25) p ON l_partkey = p.p_partkey
GROUP BY 1, 2, 3
"""

ORACLES["window_functions"] = """
SELECT o_custkey, o_orderkey,
  lag(o_orderkey) OVER w AS prev_orderkey,
  lead(o_orderkey) OVER w AS next_orderkey,
  CAST(ntile(4) OVER w AS INT) AS quartile,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""

ORACLES["rollup_agg"] = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  CAST(COUNT(*) AS BIGINT) AS cnt
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""

ORACLES["pivot_agg"] = """
SELECT l_returnflag,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS qty_open,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_filled
FROM lineitem
GROUP BY l_returnflag
"""

ORACLES["asof_join"] = """
WITH ev AS (SELECT event_id, user_id % 20 AS k, ts FROM events),
q AS (
  SELECT o_orderkey % 20 AS k, o_orderdate, max(o_totalprice) AS price
  FROM orders GROUP BY 1, 2)
SELECT ev.event_id, CAST(ev.k AS BIGINT) AS k,
       q.o_orderdate AS asof_ts, q.price AS price
FROM ev ASOF LEFT JOIN q ON ev.k = q.k AND ev.ts >= q.o_orderdate
"""

ORACLES["range_join"] = """
WITH tiers(lo, hi, tier) AS (
  VALUES (0.0, 50.0, 'low'), (50.0, 150.0, 'mid'), (150.0, 100000.0, 'high'))
SELECT event_id, value, tier
FROM events JOIN tiers ON value >= lo AND value < hi
"""

ORACLES["near_dedup_keep"] = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {SHINGLES} AS sh FROM t),
v AS (SELECT doc_id, sh, {_minhash_vals()} AS vals FROM s),
sigs AS (SELECT doc_id, sh, {_minhash_sig(16)} AS sig FROM v),
bands AS (
  SELECT doc_id,
    unnest(range(0, 8)) AS band,
    unnest({_bands(8, 2)}) AS bucket
  FROM sigs),
{_CAPPED_BANDS}
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a JOIN capped b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id),
verified AS (
  SELECT c.id_a, c.id_b
  FROM cands c
  JOIN s a ON a.doc_id = c.id_a
  JOIN s b ON b.doc_id = c.id_b
  WHERE {_JACCARD} >= 0.5),
losers AS (SELECT DISTINCT id_b AS doc_id FROM verified)
SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars
FROM documents d LEFT JOIN losers l ON d.doc_id = l.doc_id
WHERE l.doc_id IS NULL
"""

ORACLES["q6_revenue_delta"] = """
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
WHERE year(l_shipdate) = 1996 AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""

ORACLES["q13_custdist"] = """
SELECT CAST(c_count AS BIGINT) AS c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey)
GROUP BY c_count
"""

ORACLES["q14_promo_revenue"] = f"""
SELECT 100.0 * CAST(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV} ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(38,4)) AS DOUBLE)
         / CAST(CAST(SUM({_REV}) AS DECIMAL(38,4)) AS DOUBLE) AS promo_pct,
       CAST(CAST(SUM({_REV}) AS DECIMAL(38,4)) AS DOUBLE) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE year(l_shipdate) = 1997
"""

ORACLES["q17_small_qty_revenue"] = """
WITH per_part AS (
  SELECT l_partkey,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty
  FROM lineitem GROUP BY l_partkey)
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS avg_yearly,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem l JOIN per_part p ON l.l_partkey = p.l_partkey
WHERE l.l_quantity < 0.2 * p.avg_qty
"""

ORACLES["q18_large_orders"] = """
WITH big AS (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 300)
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice, b.sum_qty
FROM big b JOIN orders o ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
"""

ORACLES["semi_join_returned"] = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority
"""

ORACLES["anti_join_dormant"] = """
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_dormant
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
GROUP BY c_mktsegment
"""

ORACLES["having_clause"] = """
SELECT l_suppkey,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem GROUP BY l_suppkey
HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 15500
"""

ORACLES["tz_convert"] = """
SELECT event_id,
  timezone('UTC', timezone('Asia/Tokyo', ts)) AS utc_from_tokyo,
  timezone('Asia/Kolkata', timezone('UTC', ts)) AS kolkata_wall
FROM events WHERE event_id % 7 = 0
"""

ORACLES["date_sequence_backfill"] = """
SELECT o_orderkey, CAST(unnest(generate_series(
         CAST(o_orderdate AS DATE),
         CAST(o_orderdate AS DATE) + 21,
         INTERVAL 7 DAY)) AS DATE) AS backfill_date
FROM orders WHERE o_orderkey < 100
"""

ORACLES["string_ops"] = """
SELECT doc_id,
  trim(regexp_replace('  ' || text || '   ', '\\s+', ' ', 'g')) AS squeezed,
  regexp_replace(substr(text, 1, 40), '\\s+', '', 'g') AS no_ws,
  regexp_replace(lang || '-' || source || '!', '[^\\w\\s]+', '', 'g') AS words_only
FROM documents WHERE doc_id < 200
"""

_HASH_FRAC = lambda salt: (  # noqa: E731 — md5-derived uniform [0,1) keyed on doc_id
    _hex_to_long(f"md5('{salt}' || '|' || CAST(doc_id AS VARCHAR))", 8)
    + " / 4294967296.0"
)

_SAMPLE_H = _hex_to_long("md5('' || '|' || CAST(doc_id AS VARCHAR))", 8)

ORACLES["fixed_size_sample_docs"] = f"""
WITH c AS (SELECT lang, count(*) AS gcnt FROM documents GROUP BY 1),
s AS (
  SELECT d.lang, d.doc_id, {_SAMPLE_H} AS h, c.gcnt
  FROM documents d JOIN c USING (lang)),
f AS (
  SELECT lang, doc_id, h FROM s
  WHERE CAST(h AS DOUBLE) < 4294967296.0 * 80.0 / gcnt),
r AS (
  SELECT lang, doc_id, h,
    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
  FROM f)
SELECT lang, CAST(doc_id AS BIGINT) AS doc_id, CAST(h AS BIGINT) AS h,
       CAST(rn AS INT) AS rank
FROM r WHERE rn <= 20
"""

ORACLES["stratified_sample_docs"] = f"""
SELECT doc_id, lang FROM documents
WHERE {_HASH_FRAC('')} <
  CASE WHEN lang = 'de' THEN 1.0 WHEN lang = 'en' THEN 0.3
       WHEN lang = 'es' THEN 1.0 WHEN lang = 'fr' THEN 1.0
       WHEN lang = 'zh' THEN 1.0 ELSE 0.0 END
"""

ORACLES["train_holdout_split"] = f"""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
  CASE WHEN {_HASH_FRAC('split')} >= 0.2 THEN 'train' ELSE 'holdout' END AS split
FROM documents
GROUP BY lang, CASE WHEN {_HASH_FRAC('split')} >= 0.2 THEN 'train' ELSE 'holdout' END
"""

ORACLES["unigram_lm_quality"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS}) AS token FROM documents),
lm AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
tot AS (SELECT SUM(cnt) AS total FROM lm),
lp AS (
  SELECT token,
    CAST(round(log2(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)), 4) AS DECIMAL(18,6)) AS logp
  FROM lm, tot)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
  round(CAST(SUM(lp.logp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS avg_logprob
FROM toks JOIN lp ON toks.token = lp.token
GROUP BY doc_id
"""

ORACLES["dedup_components"] = f"""
WITH RECURSIVE t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {SHINGLES} AS sh FROM t),
v AS (SELECT doc_id, sh, {_minhash_vals()} AS vals FROM s),
sigs AS (SELECT doc_id, sh, {_minhash_sig(16)} AS sig FROM v),
bands AS (
  SELECT doc_id,
    unnest(range(0, 8)) AS band,
    unnest({_bands(8, 2)}) AS bucket
  FROM sigs),
{_CAPPED_BANDS}
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a JOIN capped b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id),
verified AS (
  SELECT c.id_a, c.id_b
  FROM cands c
  JOIN s a ON a.doc_id = c.id_a
  JOIN s b ON b.doc_id = c.id_b
  WHERE {_JACCARD} >= 0.5),
und AS (
  SELECT id_a AS src, id_b AS dst FROM verified
  UNION SELECT id_b, id_a FROM verified),
reach(src, dst) AS (
  SELECT src, dst FROM und
  UNION
  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src),
comp AS (
  SELECT src AS id, least(src, MIN(dst)) AS c FROM reach GROUP BY src)
SELECT d.doc_id, CAST(COALESCE(c.c, d.doc_id) AS BIGINT) AS component
FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
"""

_IVF_COS = lambda x, y: (  # noqa: E731
    f"round(CASE WHEN sqrt({_dot(x, x)}) * sqrt({_dot(y, y)}) > 0 "
    f"THEN {_dot(x, y)} / (sqrt({_dot(x, x)}) * sqrt({_dot(y, y)})) "
    f"ELSE 0.0 END, 6)"
)

# the star-algorithm twin must produce byte-identical labels
ORACLES["dedup_components_star"] = ORACLES["dedup_components"]

ORACLES["ivf_ann"] = f"""
WITH cent AS (
  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id % 31 = 0),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cent_id AS cell,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {_IVF_COS('e.embedding', 'c.cv')} DESC, c.cent_id ASC) AS rn
    FROM embeddings e CROSS JOIN cent c)
  WHERE rn = 1),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
    {_IVF_COS('q.embedding', 'e.embedding')} AS cosine
  FROM embeddings q
  JOIN assigned aq ON aq.vec_id = q.vec_id
  JOIN assigned ae ON ae.cell = aq.cell
  JOIN embeddings e ON e.vec_id = ae.vec_id
  WHERE q.vec_id < 8 AND e.vec_id <> q.vec_id)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(neighbor_id AS BIGINT) AS neighbor_id,
       CAST(rn AS INT) AS rank, cosine
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
      FROM scored)
WHERE rn <= 5
"""

ORACLES["ivf_ann_nprobe2"] = f"""
WITH cent AS (
  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id % 31 = 0),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cent_id AS cell,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {_IVF_COS('e.embedding', 'c.cv')} DESC, c.cent_id ASC) AS rn
    FROM embeddings e CROSS JOIN cent c)
  WHERE rn = 1),
q_assigned AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cent_id AS cell,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {_IVF_COS('e.embedding', 'c.cv')} DESC, c.cent_id ASC) AS rn
    FROM embeddings e CROSS JOIN cent c WHERE e.vec_id < 8)
  WHERE rn <= 2),
scored AS (
  SELECT DISTINCT q.vec_id AS query_id, e.vec_id AS neighbor_id,
    {_IVF_COS('q.embedding', 'e.embedding')} AS cosine
  FROM embeddings q
  JOIN q_assigned aq ON aq.vec_id = q.vec_id
  JOIN assigned ae ON ae.cell = aq.cell
  JOIN embeddings e ON e.vec_id = ae.vec_id
  WHERE q.vec_id < 8 AND e.vec_id <> q.vec_id)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(neighbor_id AS BIGINT) AS neighbor_id,
       CAST(rn AS INT) AS rank, cosine
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
      FROM scored)
WHERE rn <= 5
"""

ORACLES["simhash_neardup"] = f"""
WITH {_simhash_fp_ctes()},
blocks AS (
  SELECT doc_id, fp,
    unnest(range(0, 4)) AS blk,
    unnest([CAST(floor(fp / power(2, b * 8)) AS BIGINT) % 256 for b in range(0, 4)]) AS blkval
  FROM fps),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.fp AS fa, b.fp AS fb
  FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.blkval = b.blkval
  WHERE a.doc_id < b.doc_id)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
FROM cands WHERE bit_count(xor(fa, fb)) <= 3
"""

ORACLES["weighted_sample_docs"] = f"""
WITH w AS (
  SELECT doc_id, lang,
    CAST(len(list_distinct(toks)) AS DOUBLE)
      / CAST(greatest(len(toks), 1) AS DOUBLE) AS w
  FROM (SELECT doc_id, lang, {TOKS} AS toks FROM documents))
SELECT doc_id, lang, round(w, 6) AS weight
FROM w WHERE {_HASH_FRAC('')} < w
"""

ORACLES["gap_fill_events"] = """
WITH daily AS (
  SELECT event_type AS key, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
  FROM events WHERE day(CAST(ts AS DATE)) % 5 <> 0 GROUP BY 1, 2),
cal AS (
  SELECT key, CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                          CAST(hi AS TIMESTAMP),
                                          INTERVAL 1 DAY)) AS DATE) AS day
  FROM (SELECT key, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY 1)),
j AS (
  SELECT c.key, c.day, d.v
  FROM cal c LEFT JOIN daily d ON c.key = d.key AND c.day = d.day)
SELECT key AS event_type, day,
  round(last_value(v IGNORE NULLS) OVER (
    PARTITION BY key ORDER BY day
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS value,
  v IS NULL AS filled
FROM j
"""

ORACLES["quantile_profile"] = """
SELECT event_type,
  round(quantile_cont(value, 0.5), 6) AS p50,
  round(quantile_cont(value, 0.9), 6) AS p90,
  round(quantile_cont(value, 0.99), 6) AS p99,
  CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY 1
"""

ORACLES["histogram_quantiles"] = """
WITH b AS (
  SELECT event_type,
    CAST(least(255, greatest(0, floor((value - 0.0) / 640.0 * 256))) AS INT) AS bin,
    count(*) AS cnt
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
c AS (
  SELECT event_type, bin, cnt,
    sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
    sum(cnt) OVER (PARTITION BY event_type) AS tot
  FROM b),
qs(q) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
                 (CAST(0.99 AS DOUBLE))),
hit AS (
  SELECT event_type, q, min(bin) AS bin, max(tot) AS n
  FROM c CROSS JOIN qs
  WHERE cum >= ceil(q * tot)
  GROUP BY 1, 2),
ex AS (
  SELECT event_type,
    round(quantile_cont(value, 0.5), 6) AS e50,
    round(quantile_cont(value, 0.9), 6) AS e90,
    round(quantile_cont(value, 0.99), 6) AS e99
  FROM events GROUP BY 1),
exl AS (
  SELECT event_type, CAST(0.5 AS DOUBLE) AS q, e50 AS exact_q FROM ex
  UNION ALL SELECT event_type, CAST(0.9 AS DOUBLE), e90 FROM ex
  UNION ALL SELECT event_type, CAST(0.99 AS DOUBLE), e99 FROM ex)
SELECT h.event_type, h.q, CAST(h.n AS BIGINT) AS n,
  round(0.0 + (h.bin + 1) * 640.0 / 256, 6) AS est,
  exl.exact_q,
  round(abs(round(0.0 + (h.bin + 1) * 640.0 / 256, 6) - exl.exact_q), 6) AS err
FROM hit h JOIN exl ON h.event_type = exl.event_type AND h.q = exl.q
"""

ORACLES["histogram_profile"] = """
SELECT event_type,
  CAST(floor(value / 25.0) AS BIGINT) AS bucket,
  CAST(floor(value / 25.0) AS BIGINT) * 25.0 AS lo,
  CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2
"""

ORACLES["corr_stats"] = """
WITH m AS (
  -- DECIMAL(19,4) multiplicands force INT128 arithmetic in DuckDB (an
  -- INT64-backed product overflows); values are exact either way.
  SELECT l_returnflag,
    CAST(COUNT(*) AS DOUBLE) AS n,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, CAST(n AS BIGINT) AS n,
  round((n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS qty_price_corr
FROM m
"""

ORACLES["repetition_stats"] = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id,
    unnest(CASE WHEN len(toks) >= 2
      THEN [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks) - 1 + 1)]
      ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM t),
per_gram AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram)
SELECT doc_id,
  CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
  CAST(MAX(cnt) AS BIGINT) AS top_cnt,
  round(CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 6) AS top_frac
FROM per_gram GROUP BY doc_id
"""

ORACLES["quality_filter"] = f"""
WITH m AS (
  SELECT doc_id, toks,
    CAST(length(replace(lower(text), ' ', '')) AS DOUBLE)
      / CAST(greatest(len(toks), 1) AS DOUBLE) AS avg_len,
    CAST(len(list_distinct(toks)) AS DOUBLE)
      / CAST(greatest(len(toks), 1) AS DOUBLE) AS uniq_ratio,
    len(list_intersect(list_distinct(toks), {_PROFILES_SQL['de']})) AS s_de,
    len(list_intersect(list_distinct(toks), {_PROFILES_SQL['en']})) AS s_en,
    len(list_intersect(list_distinct(toks), {_PROFILES_SQL['es']})) AS s_es,
    len(list_intersect(list_distinct(toks), {_PROFILES_SQL['fr']})) AS s_fr
  FROM (SELECT doc_id, text, {TOKS} AS toks FROM documents)),
f AS (
  SELECT doc_id,
    CASE WHEN len(toks) < 5 THEN 'too_short'
         WHEN avg_len < 2.0 THEN 'tokens_too_short'
         WHEN avg_len > 14.0 THEN 'tokens_too_long'
         WHEN uniq_ratio < 0.3 THEN 'repetitive'
         WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'unknown_language'
         ELSE NULL END AS fail_reason
  FROM m)
SELECT doc_id, fail_reason IS NULL AS keep, fail_reason FROM f
"""

ORACLES["q2_cheapest_parts"] = """
WITH mins AS (SELECT p_type, MIN(p_retailprice) AS min_price FROM part GROUP BY p_type)
SELECT p.p_type, p.p_partkey, p.p_brand, p.p_retailprice
FROM part p JOIN mins m ON p.p_type = m.p_type
WHERE p.p_retailprice = m.min_price
"""

ORACLES["q15_top_suppliers"] = f"""
WITH rev AS (
  SELECT l_suppkey, CAST(CAST(SUM({_REV}) AS DECIMAL(38,4)) AS DOUBLE) AS total_revenue
  FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY l_suppkey),
top AS (SELECT * FROM rev WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev))
SELECT s.s_suppkey, s.s_name, t.total_revenue
FROM top t JOIN supplier s ON t.l_suppkey = s.s_suppkey
"""

ORACLES["q19_disjunctive"] = f"""
SELECT CAST(CAST(SUM({_REV}) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 20)
   OR (p_type = 'PROMO' AND l_quantity >= 20)
"""

ORACLES["q22_dormant_rich"] = """
WITH avg_bal AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS avg_bal
  FROM customer WHERE c_acctbal > 0)
SELECT c_mktsegment,
  CAST(COUNT(*) AS BIGINT) AS n_cust,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
FROM customer c, avg_bal
WHERE c.c_acctbal > avg_bal.avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY c_mktsegment
"""

ORACLES["q2_min_cost_supplier"] = """
WITH offers AS (
  SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, n.n_name,
         MIN(l.l_extendedprice / l.l_quantity) AS unit_price
  FROM lineitem l
  JOIN (SELECT p_partkey, p_name FROM part
        WHERE p_size < 10 AND p_type = 'STANDARD') p ON l.l_partkey = p.p_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'ASIA'
  GROUP BY 1, 2, 3, 4, 5)
SELECT p_partkey, p_name, CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, n_name,
       round(unit_price, 6) AS unit_price
FROM (SELECT *, row_number() OVER (
        PARTITION BY p_partkey ORDER BY unit_price ASC, s_suppkey ASC) AS rn
      FROM offers)
WHERE rn = 1
"""

ORACLES["q4_priority_exists"] = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 90)
GROUP BY o_orderpriority
"""

ORACLES["q9_product_profit"] = f"""
SELECT n.n_name AS nation,
  CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
  CAST(CAST(SUM({_REV} - CAST(round(0.6 * p.p_retailprice * l.l_quantity, 4)
                         AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%gear%'
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2
"""

ORACLES["q11_important_parts"] = f"""
WITH per_part AS (
  SELECT l_partkey, CAST(CAST(SUM({_REV}) AS DECIMAL(38,4)) AS DOUBLE) AS value FROM lineitem GROUP BY 1),
total AS (
  SELECT CAST(CAST(SUM({_REV}) AS DECIMAL(38,4)) AS DOUBLE) AS total,
         CAST(COUNT(DISTINCT l_partkey) AS DOUBLE) AS n_parts
  FROM lineitem)
SELECT l_partkey, value FROM per_part, total WHERE value > total / n_parts * 1.5
"""

ORACLES["q12_shipping_delay"] = """
SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 90 THEN 'late'
            WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 30 THEN 'slow'
            ELSE 'fast' END AS delay_class,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
"""

ORACLES["q16_supplier_count"] = """
SELECT p.p_brand, p.p_type, CAST(p.p_size AS INTEGER) AS p_size,
  CAST(COUNT(DISTINCT pr.l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pr
JOIN part p ON pr.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
  AND pr.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
GROUP BY 1, 2, 3
"""

ORACLES["q20_excess_shippers"] = """
WITH shipped AS (
  SELECT l_partkey, l_suppkey, l_quantity FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')),
pair_qty AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS pair_qty
  FROM shipped GROUP BY 1, 2),
part_qty AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS part_qty,
         CAST(COUNT(DISTINCT l_suppkey) AS DOUBLE) AS n_sup
  FROM shipped GROUP BY 1),
heavy AS (
  SELECT DISTINCT pq.l_suppkey
  FROM pair_qty pq JOIN part_qty pt ON pq.l_partkey = pt.l_partkey
  WHERE pq.pair_qty > pt.part_qty * 2.0 / pt.n_sup)
SELECT CAST(s.s_suppkey AS BIGINT) AS s_suppkey, s.s_name
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_3'
WHERE s.s_suppkey IN (SELECT l_suppkey FROM heavy)
"""

ORACLES["q21_waiting_suppliers"] = """
WITH lines AS (
  SELECT l.l_orderkey, l.l_suppkey, l.l_linenumber,
         CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 60 AS is_late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F')
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM lines l1
JOIN supplier s ON l1.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_5'
WHERE l1.is_late
  AND EXISTS (SELECT 1 FROM lines l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lines l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.is_late)
GROUP BY s.s_name
"""

ORACLES["snake_case_projection"] = """
SELECT CAST(c_acctbal AS DOUBLE) AS account_balance,
       c_custkey AS cust_key,
       c_mktsegment AS market_segment
FROM customer
"""

ORACLES["date_parse_safe"] = """
SELECT o_orderkey,
  CASE WHEN o_orderkey % 5 = 0 THEN 'not-a-date'
       ELSE strftime(o_orderdate, '%-m/%-d/%Y') END AS raw_date,
  CAST(try_strptime(
    CASE WHEN o_orderkey % 5 = 0 THEN 'not-a-date'
         ELSE strftime(o_orderdate, '%-m/%-d/%Y') END,
    '%-m/%-d/%Y') AS DATE) AS parsed_date
FROM orders WHERE o_orderkey < 2000
"""

ORACLES["media_chunks"] = """
SELECT doc_id AS media_id,
  CAST(i - 1 AS INT) AS chunk_index,
  CAST(length(substring(text, (i - 1) * 256 + 1, 256)) AS INT) AS n_chars,
  CAST(octet_length(encode(substring(text, (i - 1) * 256 + 1, 256))) AS BIGINT) AS n_bytes,
  sha256(substring(text, (i - 1) * 256 + 1, 256)) AS sha256
FROM documents,
  unnest(range(1, greatest(CAST(ceil(length(text) / 256.0) AS BIGINT), 1) + 1)) AS t(i)
"""


def _srp_bucket(vec: str, planes: int = 4, dim: int = 64) -> str:
    """SRP bucket mirroring similarity.hyperplane_bucket: bit p set iff the
    projection onto deterministic md5-derived hyperplane p is >= 0."""
    terms = []
    for p in range(planes):
        coeff = (
            _hex_to_long(f"md5('{p}' || ':' || CAST(i AS VARCHAR))", 8)
            + " / 4294967295.0 * 2.0 - 1.0"
        )
        proj = (
            f"list_sum([CAST({vec}[i] AS DOUBLE) * ({coeff}) "
            f"for i in range(1, {dim + 1})])"
        )
        terms.append(f"(CASE WHEN {proj} >= 0 THEN {2 ** p} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


# embedding_neardup's oracle is defined above (with the other dedup
# oracles) before _srp_bucket exists; splice the planes=4 bucket in now.
ORACLES["embedding_neardup"] = ORACLES["embedding_neardup"].replace(
    "{SRP4}", _srp_bucket("embedding", planes=4)
)

ORACLES["embedding_lsh_topk"] = f"""
WITH b AS (
  SELECT vec_id, embedding, {_srp_bucket('embedding')} AS bucket FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM b WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
    {_IVF_COS('q.qv', 'c.embedding')} AS cosine
  FROM b c JOIN q ON c.bucket = q.bucket
  WHERE c.vec_id <> q.query_id)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(neighbor_id AS BIGINT) AS neighbor_id,
       CAST(rn AS INT) AS rank, cosine
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
      FROM scored)
WHERE rn <= 5
"""

ORACLES["pack_sequences"] = f"""
WITH toks AS (
  SELECT doc_id, lang, len({TOKS}) AS n_tokens FROM documents),
packed AS (
  SELECT doc_id, lang, n_tokens,
    CAST(floor(COALESCE(SUM(n_tokens) OVER (
      PARTITION BY lang ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048) AS BIGINT) AS pack_id
  FROM toks)
SELECT lang, pack_id,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
  CAST(MIN(doc_id) AS BIGINT) AS first_doc_id
FROM packed GROUP BY lang, pack_id
"""

ORACLES["pack_chunk_spans"] = f"""
WITH toks AS (
  SELECT doc_id, lang, len({TOKS}) AS n_tokens FROM documents),
nz AS (SELECT * FROM toks WHERE n_tokens > 0),
cum AS (
  SELECT doc_id, lang, n_tokens,
    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) AS cend
  FROM nz),
spans AS (
  SELECT doc_id, lang, n_tokens, cend - n_tokens AS cstart, cend FROM cum),
ch AS (
  SELECT lang, doc_id, cstart, cend,
    unnest(generate_series(
      CAST(cstart // 512 AS BIGINT),
      CAST((cend - 1) // 512 AS BIGINT))) AS chunk_id
  FROM spans)
SELECT lang, CAST(chunk_id AS BIGINT) AS chunk_id,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(LEAST(cend, (chunk_id + 1) * 512)
         - GREATEST(cstart, chunk_id * 512)) AS BIGINT) AS chunk_tokens,
  CAST(SUM(CASE WHEN cstart < chunk_id * 512 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_carryover
FROM ch GROUP BY lang, chunk_id
"""

ORACLES["hopping_window_agg"] = """
WITH cand AS (
  SELECT event_type, value,
    unnest([
      to_timestamp(CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 - 1800),
      to_timestamp(CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800)
    ]) AS window_start
  FROM events)
SELECT CAST(window_start AS TIMESTAMP) AS window_start,
  CAST(window_start + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
  event_type,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM cand GROUP BY 1, 2, 3
"""

# The salted join's contract is result-equality with the PLAIN join — the
# oracle is deliberately the unsalted formulation.
ORACLES["salted_join_events"] = """
WITH dim(event_type, weight) AS (
  VALUES ('click', 1.0), ('view', 0.5), ('purchase', 10.0),
         ('signup', 5.0), ('error', 0.0))
SELECT e.event_type,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(weight AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS DOUBLE) AS weighted_value
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY e.event_type
"""

ORACLES["q7_volume_shipping"] = f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
  CAST(year(l_shipdate) AS BIGINT) AS l_year,
  CAST(CAST(SUM({_REV}) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
GROUP BY 1, 2, 3
"""

ORACLES["q8_market_share"] = f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
  CAST(CAST(SUM(CASE WHEN sn.n_name = 'NATION_7' THEN {_REV}
                ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(38,4)) AS DOUBLE)
    / CAST(CAST(SUM({_REV}) AS DECIMAL(38,4)) AS DOUBLE) AS mkt_share,
  CAST(CAST(SUM({_REV}) AS DECIMAL(38,4)) AS DOUBLE) AS total_revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region r ON cn.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY 1
"""

ORACLES["q10_returned_customers"] = f"""
SELECT c_custkey, c_name, c_mktsegment,
  CAST(CAST(SUM({_REV}) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_returnflag = 'R' AND year(o_orderdate) = 1996
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""

ORACLES["funnel_conversion"] = """
WITH views AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id),
clicks AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN views v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id),
purchases AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN clicks c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id)
SELECT (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events) AS n_users,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM views) AS n_viewed,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM clicks) AS n_clicked,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM purchases) AS n_purchased
"""

ORACLES["cohort_retention"] = """
WITH first_seen AS (
  SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP) AS cohort_day
  FROM events GROUP BY user_id),
acts AS (
  SELECT e.user_id, f.cohort_day,
    datediff('day', f.cohort_day, CAST(date_trunc('day', e.ts) AS TIMESTAMP)) AS day_offset
  FROM events e JOIN first_seen f ON e.user_id = f.user_id)
SELECT cohort_day, CAST(day_offset AS INT) AS day_offset,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
FROM acts WHERE day_offset <= 7
GROUP BY 1, 2
"""

# bloom_prefilter's contract is result-equality with the PLAIN join.
ORACLES["bloom_join_orders"] = """
SELECT o_orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING' AND c.c_acctbal > 9000
GROUP BY o_orderpriority
"""


def _zorder_sql(x: str, y: str, bits: int = 10) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"(CAST(floor({x} / {2 ** b}) AS BIGINT) % 2) * {2 ** (2 * b)}")
        terms.append(f"(CAST(floor({y} / {2 ** b}) AS BIGINT) % 2) * {2 ** (2 * b + 1)}")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


ORACLES["zorder_layout"] = f"""
WITH base AS (
  SELECT event_id,
    CAST(user_id % 1024 AS BIGINT) AS x,
    greatest(least(CAST(floor(value) AS BIGINT), 1023), 0) AS y
  FROM events WHERE event_id < 2000)
SELECT event_id, x, y, {_zorder_sql('x', 'y')} AS zkey FROM base
"""

ORACLES["cube_agg"] = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  CAST(COUNT(*) AS BIGINT) AS cnt
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""

ORACLES["flatten_deep"] = """
SELECT l_orderkey AS o_orderkey,
       CAST(l_linenumber AS INT) AS l_linenumber,
       l_quantity
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderkey < 500)
"""

ORACLES["training_pipeline_e2e"] = f"""
WITH m AS (
  SELECT doc_id, lang, text, toks,
    CAST(length(replace(lower(text), ' ', '')) AS DOUBLE)
      / CAST(greatest(len(toks), 1) AS DOUBLE) AS avg_len,
    CAST(len(list_distinct(toks)) AS DOUBLE)
      / CAST(greatest(len(toks), 1) AS DOUBLE) AS uniq_ratio,
    len(list_intersect(list_distinct(toks), {_PROFILES_SQL['de']})) AS s_de,
    len(list_intersect(list_distinct(toks), {_PROFILES_SQL['en']})) AS s_en,
    len(list_intersect(list_distinct(toks), {_PROFILES_SQL['es']})) AS s_es,
    len(list_intersect(list_distinct(toks), {_PROFILES_SQL['fr']})) AS s_fr
  FROM (SELECT doc_id, lang, text, {TOKS} AS toks FROM documents)),
clean AS (
  SELECT doc_id, lang, text, toks FROM m
  WHERE len(toks) >= 5 AND avg_len >= 2.0 AND avg_len <= 14.0
    AND uniq_ratio >= 0.3 AND greatest(s_de, s_en, s_es, s_fr) > 0),
s AS (
  SELECT doc_id, lang, toks,
    CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[]) ELSE
      list_sort(list_distinct([array_to_string(toks[i:i+2], ' ')
        for i in range(1, greatest(len(toks) - 2, 1) + 1)])) END AS sh
  FROM clean),
v AS (SELECT doc_id, sh, {_minhash_vals()} AS vals FROM s),
sigs AS (SELECT doc_id, sh, {_minhash_sig(16)} AS sig FROM v),
bands AS (
  SELECT doc_id,
    unnest(range(0, 8)) AS band,
    unnest({_bands(8, 2)}) AS bucket
  FROM sigs),
{_CAPPED_BANDS}
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a JOIN capped b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id),
verified AS (
  SELECT c.id_a, c.id_b
  FROM cands c
  JOIN s a ON a.doc_id = c.id_a
  JOIN s b ON b.doc_id = c.id_b
  WHERE {_JACCARD} >= 0.5),
losers AS (SELECT DISTINCT id_b AS doc_id FROM verified),
deduped AS (
  SELECT c.* FROM clean c LEFT JOIN losers l ON c.doc_id = l.doc_id
  WHERE l.doc_id IS NULL),
sampled AS (
  SELECT * FROM deduped
  WHERE {_HASH_FRAC('')} <
    CASE WHEN lang = 'de' THEN 1.0 WHEN lang = 'en' THEN 0.5
         WHEN lang = 'es' THEN 1.0 WHEN lang = 'fr' THEN 1.0
         WHEN lang = 'zh' THEN 1.0 ELSE 0.0 END)
SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(len(toks)) AS BIGINT) AS n_tokens,
  CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
FROM sampled GROUP BY lang
"""

_OLS_SLOPE = "((n * sxy - sx * sy) / (n * sxx - sx * sx))"
ORACLES["ols_fit"] = f"""
WITH m AS (
  SELECT l_returnflag,
    CAST(COUNT(*) AS DOUBLE) AS n,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS sxx
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, CAST(n AS BIGINT) AS n,
  round({_OLS_SLOPE}, 6) AS slope,
  round((sy - {_OLS_SLOPE} * sx) / n, 6) AS intercept
FROM m
"""

# rule-1013 file completeness: the driver's lineitem table is the single
# file lineitem.parquet, so only the deliberately-absent name comes back.
ORACLES["dq_file_completeness"] = """
SELECT 'lineitem-part2.parquet' AS missing_file, FALSE AS present
"""

ORACLES["audit_columns"] = """
SELECT l_orderkey, l_linenumber,
  'lineitem.parquet' AS file_name,
  md5('{"l_linenumber":' || COALESCE(CAST(l_linenumber AS VARCHAR), 'null')
      || ',"l_orderkey":' || COALESCE(CAST(l_orderkey AS VARCHAR), 'null') || '}') AS hashcode
FROM lineitem WHERE l_orderkey < 1000
"""


# training_pipeline_v2 = v1 with a decontamination stage spliced between the
# quality gate and near-dedup: retarget the downstream CTEs from `clean` to
# `decon` FIRST, then insert the evset/decon CTEs (which reference `clean`).
_V2_DECON_CTES = f"""),
evset AS (
  SELECT list(DISTINCT g) AS ev FROM (
    SELECT unnest({SHINGLES}) AS g
    FROM (SELECT {TOKS} AS toks FROM documents WHERE doc_id % 97 = 0))),
decon AS (
  SELECT c.doc_id, c.lang, c.text, c.toks
  FROM (SELECT *, {SHINGLES} AS sh0 FROM clean) c, evset
  WHERE round(CAST(len(list_intersect(c.sh0, evset.ev)) AS DOUBLE)
        / CAST(greatest(len(c.sh0), 1) AS DOUBLE), 6) < 0.8),
s AS ("""

ORACLES["training_pipeline_v2"] = (
    ORACLES["training_pipeline_e2e"]
    .replace("FROM clean", "FROM decon")
    .replace("),\ns AS (", _V2_DECON_CTES)
)

# ---- round 2: training-data curation additions ----------------------------

# text_normalize: seed deterministic mess (control chars, casing, whitespace
# runs) keyed on doc_id, then canonicalize exactly like text.normalize_text.
ORACLES["text_normalize"] = """
WITH messy AS (
  SELECT doc_id,
    '  ' || chr(9)
      || CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END
      || chr(7) || '  trailing' || chr(31) || ' junk' || chr(10) || chr(10)
      AS raw
  FROM documents),
norm AS (
  SELECT doc_id, raw,
    trim(regexp_replace(
      lower(regexp_replace(raw, '[\\x00-\\x1f\\x7f]', ' ', 'g')),
      '\\s+', ' ', 'g')) AS n
  FROM messy)
SELECT doc_id,
  CAST(len(raw) AS BIGINT) AS n_chars_raw,
  CAST(len(n) AS BIGINT) AS n_chars_norm,
  md5(n) AS norm_md5
FROM norm
"""

ORACLES["vocab_coverage"] = f"""
WITH t AS (SELECT {TOKS} AS toks FROM documents),
e AS (SELECT unnest(toks) AS token FROM t),
c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY token),
r AS (SELECT token, cnt,
        row_number() OVER (ORDER BY cnt DESC, token) AS rank,
        CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt
      FROM c),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_cnt FROM c)
SELECT token, cnt, CAST(rank AS INT) AS rank, cum_cnt,
  round(CAST(cum_cnt AS DOUBLE) / CAST(total_cnt AS DOUBLE), 6) AS coverage
FROM r, tot WHERE rank <= 50
"""

ORACLES["tfidf_top_terms"] = f"""
WITH e AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM e GROUP BY doc_id, term),
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
s AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
        row_number() OVER (PARTITION BY tf.doc_id
          ORDER BY CAST(tf.tf AS DOUBLE)
                   * ln(CAST(n_docs + 1 AS DOUBLE) / CAST(dfq.df + 1 AS DOUBLE))
                   DESC, tf.term) AS rank
      FROM tf JOIN dfq USING (term), nd)
SELECT doc_id, term, tf, df, CAST(rank AS INT) AS rank FROM s WHERE rank <= 3
"""

# incremental_dedup: even ids = existing corpus, odd ids = incoming batch;
# admit incoming docs whose winnowing fingerprint is new to the corpus AND
# first (smallest id) within the batch.
ORACLES["incremental_dedup"] = f"""
WITH t AS (SELECT doc_id, lang, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, lang, {SHINGLES} AS sh FROM t),
f AS (SELECT doc_id, lang,
        md5(coalesce(array_to_string(
          list_sort([md5(x) for x in sh])[1:4], '|'), '')) AS fp
      FROM s),
corpus AS (SELECT DISTINCT fp FROM f WHERE doc_id % 2 = 0),
fresh AS (SELECT * FROM f WHERE doc_id % 2 = 1
          AND fp NOT IN (SELECT fp FROM corpus)),
r AS (SELECT doc_id, lang, fp,
        row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM fresh)
SELECT doc_id, lang, fp FROM r WHERE rn = 1
"""

ORACLES["curriculum_bins"] = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
sc AS (SELECT doc_id,
         round(CAST(len(list_distinct(toks)) AS DOUBLE)
               / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS score
       FROM t),
b AS (SELECT quantile_cont(score, 0.25) AS b0,
             quantile_cont(score, 0.5) AS b1,
             quantile_cont(score, 0.75) AS b2 FROM sc)
SELECT doc_id, score,
  CAST(1 + CAST(score > b0 AS INT) + CAST(score > b1 AS INT)
         + CAST(score > b2 AS INT) AS INT) AS bin
FROM sc, b
"""

ORACLES["domain_balance"] = """
WITH r AS (
  SELECT doc_id, source,
    row_number() OVER (PARTITION BY source
      ORDER BY md5('bal' || '|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents)
SELECT doc_id, source FROM r WHERE rn <= 12
"""

_SHUF_KEY = "md5('epoch0' || '|' || CAST(doc_id AS VARCHAR))"
ORACLES["global_shuffle_order"] = f"""
WITH k AS (
  SELECT doc_id, {_SHUF_KEY} AS key,
    CAST({_hex_to_long(_SHUF_KEY, 8)} % 8 AS INT) AS shard
  FROM documents)
SELECT doc_id, shard,
  CAST(row_number() OVER (PARTITION BY shard ORDER BY key, doc_id) AS BIGINT)
    AS pos
FROM k
"""

ORACLES["sql_api_revenue"] = """
SELECT n.n_name AS nation,
       year(o.o_orderdate) AS order_year,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
           AS total_price,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name, year(o.o_orderdate)
"""

# kmeans_step: one Lloyd iteration — nearest-centroid assignment (rounded
# cosine, centroid-id tie-break, same fragment as the IVF oracles) + per-
# (cluster, dim) DECIMAL-exact mean.
ORACLES["kmeans_step"] = f"""
WITH cent AS (
  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id % 31 = 0),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cent_id AS cell,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {_IVF_COS('e.embedding', 'c.cv')} DESC, c.cent_id ASC) AS rn
    FROM embeddings e CROSS JOIN cent c)
  WHERE rn = 1),
exploded AS (
  SELECT a.cell AS cluster,
    unnest(range(0, len(e.embedding))) AS dim,
    unnest(e.embedding) AS val
  FROM embeddings e JOIN assigned a USING (vec_id))
SELECT CAST(cluster AS BIGINT) AS cluster, CAST(dim AS INT) AS dim,
  round(CAST(sum(CAST(CAST(val AS DOUBLE) AS DECIMAL(27,10))) AS DOUBLE)
        / CAST(count(*) AS DOUBLE), 6) AS centroid,
  CAST(count(*) AS BIGINT) AS n
FROM exploded GROUP BY cluster, dim
"""

# snapshot_diff: full-outer reconciliation of two deterministic orders
# variants (old: keys %7<>0; new: keys %11<>0, price bumped where %5=0).
ORACLES["snapshot_diff"] = """
WITH old AS (
  SELECT o_orderkey,
    md5(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)) AS h
  FROM orders WHERE o_orderkey % 7 <> 0),
new AS (
  SELECT o_orderkey,
    md5(CAST(CASE WHEN o_orderkey % 5 = 0
         THEN CAST(o_totalprice AS DECIMAL(18,2)) + CAST(1 AS DECIMAL(18,2))
         ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS VARCHAR)) AS h
  FROM orders WHERE o_orderkey % 11 <> 0)
SELECT COALESCE(new.o_orderkey, old.o_orderkey) AS o_orderkey,
  CASE WHEN old.o_orderkey IS NULL THEN 'added'
       WHEN new.o_orderkey IS NULL THEN 'removed'
       WHEN old.h <> new.h THEN 'changed'
       ELSE 'unchanged' END AS status
FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
"""

# rolling_events_7d: daily pre-aggregate + RANGE window over day offsets
# (gap-correct trailing 7 real days), decimal-exact sums.
ORACLES["rolling_events_7d"] = """
WITH daily AS (
  SELECT event_type AS key, CAST(date_trunc('day', ts) AS DATE) AS day,
    SUM(CAST(value AS DECIMAL(18,4))) AS s, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2)
SELECT key, day, n,
  round(CAST(SUM(s) OVER w AS DOUBLE) / CAST(SUM(n) OVER w AS DOUBLE), 6)
    AS mean
FROM daily
WINDOW w AS (PARTITION BY key
  ORDER BY date_diff('day', DATE '1970-01-01', day)
  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""

ORACLES["iqr_outlier_events"] = """
WITH b AS (
  SELECT event_type AS key,
    round(quantile_cont(value, 0.25)
          - 1.5 * (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)), 6)
      AS lo,
    round(quantile_cont(value, 0.75)
          + 1.5 * (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)), 6)
      AS hi
  FROM events GROUP BY 1)
SELECT b.key, CAST(count(*) AS BIGINT) AS n_total,
  CAST(SUM(CAST(e.value < b.lo OR e.value > b.hi AS INT)) AS BIGINT)
    AS n_outliers,
  first(b.lo) AS lo, first(b.hi) AS hi
FROM events e JOIN b ON e.event_type = b.key
GROUP BY b.key
"""

# kmeans_two_step: two chained Lloyd iterations — round 2's centroids are
# rebuilt from round 1's ROUNDED means (list ordered by dim), then the
# assignment + DECIMAL-exact mean repeats.
ORACLES["kmeans_two_step"] = f"""
WITH cent AS (
  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id % 31 = 0),
a1 AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cent_id AS cell,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {_IVF_COS('e.embedding', 'c.cv')} DESC, c.cent_id ASC) AS rn
    FROM embeddings e CROSS JOIN cent c)
  WHERE rn = 1),
x1 AS (
  SELECT a.cell AS cluster,
    unnest(range(0, len(e.embedding))) AS dim,
    unnest(e.embedding) AS val
  FROM embeddings e JOIN a1 a USING (vec_id)),
u1 AS (
  SELECT cluster, dim,
    round(CAST(sum(CAST(CAST(val AS DOUBLE) AS DECIMAL(27,10))) AS DOUBLE)
          / CAST(count(*) AS DOUBLE), 6) AS centroid
  FROM x1 GROUP BY cluster, dim),
cent2 AS (
  SELECT cluster AS cent_id, list(centroid ORDER BY dim) AS cv
  FROM u1 GROUP BY cluster),
a2 AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cent_id AS cell,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {_IVF_COS('e.embedding', 'c.cv')} DESC, c.cent_id ASC) AS rn
    FROM embeddings e CROSS JOIN cent2 c)
  WHERE rn = 1),
x2 AS (
  SELECT a.cell AS cluster,
    unnest(range(0, len(e.embedding))) AS dim,
    unnest(e.embedding) AS val
  FROM embeddings e JOIN a2 a USING (vec_id))
SELECT CAST(cluster AS BIGINT) AS cluster, CAST(dim AS INT) AS dim,
  round(CAST(sum(CAST(CAST(val AS DOUBLE) AS DECIMAL(27,10))) AS DOUBLE)
        / CAST(count(*) AS DOUBLE), 6) AS centroid,
  CAST(count(*) AS BIGINT) AS n
FROM x2 GROUP BY cluster, dim
"""

# ---------------------------------------------------------------------------
# round 2 additions: ANN recall gauge, int8-quantized top-k, native session
# windows
# ---------------------------------------------------------------------------

# recall@5 of the SRP-LSH path (planes=4) vs brute-force exact top-5 for
# query vectors vec_id < 8 — the oracle replays BOTH ANN paths.
ORACLES["ann_recall_lsh"] = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
exact_scored AS (
  SELECT query_id, neighbor_id,
    {_IVF_COS('qv', 'cv')} AS cosine
  FROM c, q WHERE query_id <> neighbor_id),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
    FROM exact_scored) WHERE rn <= 5),
b AS (
  SELECT vec_id, embedding, {_srp_bucket('embedding')} AS bucket FROM embeddings),
qb AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM b WHERE vec_id < 8),
approx_scored AS (
  SELECT qb.query_id, cb.vec_id AS neighbor_id,
    {_IVF_COS('qb.qv', 'cb.embedding')} AS cosine
  FROM b cb JOIN qb ON cb.bucket = qb.bucket
  WHERE cb.vec_id <> qb.query_id),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
    FROM approx_scored) WHERE rn <= 5)
SELECT CAST(e.query_id AS BIGINT) AS query_id,
  CAST(COUNT(*) AS BIGINT) AS n_exact,
  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
  round(CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE), 6) AS recall
FROM exact e
LEFT JOIN approx a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id
"""


def _quant_vec(vec: str, dim: int = 64) -> str:
    """int8 symmetric quantization mirroring similarity.quantize_vec:
    scale = 127/max|v|, element -> floor(v*scale + 0.5). floor(+0.5), not
    round(), so half-away/half-even engine differences cannot bite."""
    amax = f"list_max([abs(CAST({vec}[i] AS DOUBLE)) for i in range(1, {dim + 1})])"
    scale = f"(CASE WHEN {amax} > 0 THEN 127.0 / {amax} ELSE 0.0 END)"
    return (
        f"[CAST(floor(CAST({vec}[i] AS DOUBLE) * {scale} + 0.5) AS BIGINT) "
        f"for i in range(1, {dim + 1})]"
    )


ORACLES["quantized_topk"] = f"""
WITH qz AS (SELECT vec_id, {_quant_vec('embedding')} AS qv FROM embeddings),
q AS (SELECT vec_id AS query_id, qv FROM qz WHERE vec_id < 8),
c AS (SELECT vec_id AS neighbor_id, qv AS cv FROM qz),
scored AS (
  SELECT query_id, neighbor_id,
    {_IVF_COS('q.qv', 'c.cv')} AS qcosine
  FROM c, q WHERE query_id <> neighbor_id)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(neighbor_id AS BIGINT) AS neighbor_id,
       CAST(rn AS INT) AS rank, qcosine
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY qcosine DESC, neighbor_id ASC) AS rn
      FROM scored)
WHERE rn <= 5
"""

# native session_window semantics: a new session starts when the gap to the
# previous event is >= 30 min (window end is exclusive); session end = last
# event + gap.
ORACLES["session_window_agg"] = """
WITH marked AS (
  SELECT user_id, ts, event_id, value,
    CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w >= 1800 THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, ts, value,
    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked)
SELECT user_id,
  CAST(MIN(ts) AS TIMESTAMP) AS session_start,
  CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM sess GROUP BY user_id, sid
"""

# ---- round 3: bloom decontamination + semantic dedup ----------------------

_BLOOM_M = 1 << 20
_BLOOM_P1 = f"{_hex_to_long('md5(g)', 8)} % {_BLOOM_M}"
_BLOOM_P2 = f"{_hex_to_long('substr(md5(g), 9, 8)', 8)} % {_BLOOM_M}"

ORACLES["decontamination_bloom"] = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {SHINGLES} AS sh FROM t),
ev AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 97 = 0),
bits AS (
  SELECT DISTINCT bit FROM (
    SELECT {_BLOOM_P1} AS bit FROM ev
    UNION ALL
    SELECT {_BLOOM_P2} AS bit FROM ev)),
ex AS (SELECT DISTINCT doc_id, unnest(sh) AS g FROM s),
pr AS (SELECT doc_id, g, {_BLOOM_P1} AS p1, {_BLOOM_P2} AS p2 FROM ex),
hits AS (
  SELECT doc_id, CAST(COUNT(DISTINCT g) AS BIGINT) AS n_bloom_hits
  FROM pr JOIN bits b1 ON pr.p1 = b1.bit JOIN bits b2 ON pr.p2 = b2.bit
  GROUP BY doc_id)
SELECT s.doc_id,
  CAST(len(s.sh) AS BIGINT) AS n_shingles,
  CAST(COALESCE(h.n_bloom_hits, 0) AS BIGINT) AS n_bloom_hits,
  round(CAST(COALESCE(h.n_bloom_hits, 0) AS DOUBLE)
        / CAST(greatest(len(s.sh), 1) AS DOUBLE), 6) AS ratio
FROM s LEFT JOIN hits h ON s.doc_id = h.doc_id
"""

ORACLES["semantic_dedup"] = f"""
WITH cent AS (
  SELECT vec_id AS cent_id, embedding AS cv FROM embeddings WHERE vec_id % 31 = 0),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cent_id AS cell,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {_IVF_COS('e.embedding', 'c.cv')} DESC, c.cent_id ASC) AS rn
    FROM embeddings e CROSS JOIN cent c)
  WHERE rn = 1),
pairs AS (
  SELECT aa.vec_id AS id_a, ab.vec_id AS id_b
  FROM assigned aa JOIN assigned ab ON aa.cell = ab.cell AND aa.vec_id < ab.vec_id
  JOIN embeddings a ON a.vec_id = aa.vec_id
  JOIN embeddings b ON b.vec_id = ab.vec_id
  WHERE {_IVF_COS('a.embedding', 'b.embedding')} >= 0.85),
losers AS (SELECT DISTINCT id_b FROM pairs)
SELECT CAST(e.vec_id AS BIGINT) AS vec_id, CAST(e.label AS INT) AS label
FROM embeddings e LEFT JOIN losers l ON e.vec_id = l.id_b
WHERE l.id_b IS NULL
"""

ORACLES["chunk_documents"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS tk FROM documents),
st0 AS (
  SELECT doc_id, tk, unnest(range(0, len(tk), 12)) AS s
  FROM toks WHERE len(tk) > 0),
st AS (SELECT doc_id, tk, CAST(s AS INT) AS start FROM st0)
SELECT doc_id,
  CAST(start // 12 AS INT) AS chunk_id,
  start,
  array_to_string(tk[start + 1 : start + 16], ' ') AS chunk_text,
  CAST(len(tk[start + 1 : start + 16]) AS INT) AS n_tokens
FROM st
"""

ORACLES["span_dedup"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS tk FROM documents),
blk0 AS (
  SELECT doc_id, tk, unnest(range(0, len(tk), 4)) AS s
  FROM toks WHERE len(tk) > 0),
blk AS (
  SELECT doc_id, CAST(s // 4 AS INT) AS block_idx,
         array_to_string(tk[s + 1 : s + 4], ' ') AS chunk_text
  FROM blk0),
marked AS (
  SELECT doc_id, block_idx, chunk_text,
    row_number() OVER (PARTITION BY chunk_text ORDER BY doc_id, block_idx) AS rn,
    COUNT(*) OVER (PARTITION BY doc_id) AS n_total
  FROM blk)
SELECT doc_id,
  array_to_string(list(chunk_text ORDER BY block_idx), ' ') AS text_clean,
  CAST(max(n_total) AS BIGINT) AS n_blocks_total,
  CAST(count(*) AS BIGINT) AS n_blocks_kept
FROM marked WHERE rn = 1 GROUP BY doc_id
"""

ORACLES["substring_dup_profile"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS tk FROM documents),
w0 AS (
  SELECT doc_id, tk, unnest(range(0, len(tk), 3)) AS s
  FROM toks WHERE len(tk) > 0),
wins AS (
  SELECT doc_id, md5(array_to_string(tk[s + 1 : s + 8], ' ')) AS wkey
  FROM w0),
cnts AS (SELECT wkey, COUNT(*) AS c FROM wins GROUP BY wkey)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_windows,
  CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
  round(CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE), 6) AS dup_ratio
FROM wins JOIN cnts USING (wkey)
GROUP BY doc_id
"""

ORACLES["heavy_hitters"] = f"""
WITH toks AS (SELECT {TOKS} AS tk FROM documents),
bg0 AS (
  SELECT tk, unnest(range(1, len(tk))) AS i
  FROM toks WHERE len(tk) >= 2),
bg AS (SELECT tk[i] || ' ' || tk[i + 1] AS bigram FROM bg0)
SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
FROM bg GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 20
"""

_FH_BUCKET = _hex_to_long("md5(t)", 8) + " % 64"
ORACLES["feature_hash_tf"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS tk FROM documents),
tok AS (SELECT doc_id, unnest(tk) AS t FROM toks)
SELECT doc_id, CAST({_FH_BUCKET} AS BIGINT) AS bucket,
  CAST(count(*) AS BIGINT) AS tf
FROM tok GROUP BY doc_id, bucket
"""

ORACLES["group_quantiles"] = """
SELECT lang,
  quantile_cont(n_chars, 0.25) AS p25,
  quantile_cont(n_chars, 0.50) AS p50,
  quantile_cont(n_chars, 0.75) AS p75,
  CAST(count(*) AS BIGINT) AS n_docs
FROM documents GROUP BY lang
"""

ORACLES["scd2_merge"] = """
WITH ords AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
    CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS price,
    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * CAST(1.1 AS DECIMAL(2,1))
         AS DOUBLE) AS bumped
  FROM orders),
dim AS (SELECT k, status, price FROM ords),
snap AS (
  SELECT k, status,
    CASE WHEN k % 7 = 0 THEN bumped ELSE price END AS price
  FROM ords WHERE k % 13 <> 0
  UNION ALL
  SELECT k + 100000000 AS k, 'N' AS status, price FROM ords WHERE k % 11 = 0),
j AS (
  SELECT coalesce(d.k, s.k) AS k,
    d.k IS NOT NULL AS in_dim, s.k IS NOT NULL AS in_snap,
    d.status AS dstat, d.price AS dprice, s.status AS sstat, s.price AS sprice
  FROM dim d FULL OUTER JOIN snap s ON d.k = s.k)
SELECT k, dstat AS status, dprice AS price,
  DATE '1992-01-01' AS effective_from, DATE '9999-12-31' AS effective_to,
  TRUE AS is_current
FROM j WHERE in_dim AND in_snap AND dstat = sstat AND dprice = sprice
UNION ALL
SELECT k, dstat, dprice, DATE '1992-01-01', DATE '1998-08-01', FALSE
FROM j WHERE in_dim AND in_snap AND NOT (dstat = sstat AND dprice = sprice)
UNION ALL
SELECT k, sstat, sprice, DATE '1998-08-01', DATE '9999-12-31', TRUE
FROM j WHERE in_dim AND in_snap AND NOT (dstat = sstat AND dprice = sprice)
UNION ALL
SELECT k, sstat, sprice, DATE '1998-08-01', DATE '9999-12-31', TRUE
FROM j WHERE in_snap AND NOT in_dim
UNION ALL
SELECT k, dstat, dprice, DATE '1992-01-01', DATE '1998-08-01', FALSE
FROM j WHERE in_dim AND NOT in_snap
"""

ORACLES["incremental_agg"] = """
SELECT o_custkey,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) AS avg_price
FROM orders GROUP BY o_custkey
"""

ORACLES["data_skipping_plan"] = """
SELECT CAST(l_orderkey // 2048 AS BIGINT) AS split_id,
  CAST(count(*) AS BIGINT) AS n_rows,
  min(l_shipdate) AS min_l_shipdate,
  max(l_shipdate) AS max_l_shipdate,
  (max(l_shipdate) < TIMESTAMP '1995-01-01'
   OR min(l_shipdate) > TIMESTAMP '1995-12-31') AS can_skip
FROM lineitem GROUP BY split_id
"""

_CMS_H = _hex_to_long("md5(concat(cast(i AS VARCHAR), '|', x))", 8)
_CMS_H_T = _hex_to_long("md5(concat(cast(u.i AS VARCHAR), '|', t.x))", 8)
ORACLES["cms_topk"] = f"""
WITH toks AS (SELECT unnest({TOKS}) AS x FROM documents),
cnts AS (SELECT x, CAST(count(*) AS BIGINT) AS true_cnt FROM toks GROUP BY x),
top AS (SELECT x, true_cnt FROM cnts ORDER BY true_cnt DESC, x LIMIT 20),
rows_ AS (SELECT x, unnest([0, 1, 2, 3]) AS i FROM toks),
sk AS (
  SELECT i, {_CMS_H} % 64 AS b, CAST(count(*) AS BIGINT) AS cnt
  FROM rows_ GROUP BY i, b),
pr AS (
  SELECT t.x, t.true_cnt, u.i, {_CMS_H_T} % 64 AS b
  FROM top t, unnest([0, 1, 2, 3]) AS u(i))
SELECT pr.x AS token, pr.true_cnt,
  CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS cms_est
FROM pr LEFT JOIN sk ON pr.i = sk.i AND pr.b = sk.b
GROUP BY pr.x, pr.true_cnt
"""

_HLL_H = _hex_to_long("md5(cast(user_id AS VARCHAR))", 8)
ORACLES["hll_distinct"] = f"""
WITH h AS (
  SELECT event_type, {_HLL_H} AS hv FROM events),
rv AS (
  SELECT event_type, CAST(hv % 256 AS INT) AS idx,
    CAST(hv // 256 AS BIGINT) AS v
  FROM h),
regs AS (
  SELECT event_type, idx,
    CAST(max(CASE WHEN v = 0 THEN 25 ELSE 25 - length(bin(v)) END) AS INT) AS M
  FROM rv GROUP BY event_type, idx),
agged AS (
  SELECT event_type,
    CAST(SUM(CAST(2 AS BIGINT) ** (25 - M)) AS BIGINT) AS denom_obs,
    CAST(count(*) AS BIGINT) AS n_obs
  FROM regs GROUP BY event_type),
est AS (
  SELECT event_type,
    denom_obs + (256 - n_obs) * CAST(2 AS BIGINT) ** 25 AS denom_scaled,
    256 - n_obs AS zeros
  FROM agged),
fin AS (
  SELECT event_type,
    (0.7213 / (1.0 + 1.079 / 256)) * CAST(256 AS DOUBLE) * CAST(256 AS DOUBLE)
      * CAST(2 AS DOUBLE) ** 25 / CAST(denom_scaled AS DOUBLE) AS raw,
    zeros
  FROM est)
SELECT e.event_type,
  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_exact,
  round(CASE WHEN f.raw <= 2.5 * 256 AND f.zeros > 0
             THEN CAST(256 AS DOUBLE) * ln(CAST(256 AS DOUBLE) / CAST(f.zeros AS DOUBLE))
             ELSE f.raw END, 3) AS hll_est
FROM events e JOIN fin f ON e.event_type = f.event_type
GROUP BY e.event_type, f.raw, f.zeros
"""

_SPLIT_FRAC = (
    _hex_to_long("md5(concat('split', '|', source))", 8)
    + " / 4294967296.0"
)
ORACLES["grouped_split_docs"] = f"""
WITH g AS (
  SELECT source, CAST({_SPLIT_FRAC} AS DOUBLE) AS frac,
    CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source)
SELECT source,
  CASE WHEN frac < 0.1 THEN 'test'
       WHEN frac < 0.9 THEN 'train'
       ELSE 'val' END AS split,
  n_docs
FROM g
"""

ORACLES["winsorize_events"] = """
WITH b AS (
  SELECT event_type AS k,
    round(quantile_cont(value, 0.01), 6) AS lo,
    round(quantile_cont(value, 0.99), 6) AS hi
  FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type, e.value,
  least(greatest(e.value, b.lo), b.hi) AS value_wins
FROM events e JOIN b ON e.event_type = b.k
"""

ORACLES["dq_profile"] = """
WITH base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nl1,
    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS nd1,
    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nl2,
    CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd2,
    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nl3,
    CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd3,
    CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nl4,
    CAST(count(DISTINCT o_totalprice) AS BIGINT) AS nd4,
    CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nl5,
    CAST(count(DISTINCT o_orderdate) AS BIGINT) AS nd5
  FROM orders)
SELECT n_rows, 'o_orderkey' AS col_name, nl1 AS n_nulls, nd1 AS n_distinct FROM base
UNION ALL SELECT n_rows, 'o_custkey', nl2, nd2 FROM base
UNION ALL SELECT n_rows, 'o_orderstatus', nl3, nd3 FROM base
UNION ALL SELECT n_rows, 'o_totalprice', nl4, nd4 FROM base
UNION ALL SELECT n_rows, 'o_orderdate', nl5, nd5 FROM base
"""

ORACLES["compaction_plan"] = """
WITH zm AS (
  SELECT CAST(l_orderkey // 2048 AS BIGINT) AS split_id,
    CAST(count(*) AS BIGINT) AS n_rows
  FROM lineitem GROUP BY split_id)
SELECT split_id, n_rows,
  CAST(floor(coalesce(
    sum(n_rows) OVER (ORDER BY split_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
    / 50000) AS BIGINT) AS out_file
FROM zm
"""

ORACLES["bigram_lm_quality"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS tk FROM documents),
bg0 AS (
  SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
  FROM toks WHERE len(tk) >= 2),
bg AS (
  SELECT doc_id, tk[i] AS w1, tk[i] || ' ' || tk[i + 1] AS bigram FROM bg0),
lm_bg AS (SELECT bigram, count(*) AS cbg FROM bg GROUP BY bigram),
uni AS (SELECT unnest(tk) AS w1 FROM toks),
lm_uni AS (SELECT w1, count(*) AS cw FROM uni GROUP BY w1),
vocab AS (SELECT count(*) AS V FROM lm_uni),
scored AS (
  SELECT b.doc_id,
    CAST(round(log2(CAST(l.cbg + 1 AS DOUBLE) / CAST(u.cw + v.V AS DOUBLE)), 4)
         AS DECIMAL(18,6)) AS logp
  FROM bg b
  JOIN lm_bg l ON b.bigram = l.bigram
  JOIN lm_uni u ON b.w1 = u.w1
  CROSS JOIN vocab v)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
  CAST(SUM(logp) * 1000000 AS BIGINT) AS sum_logprob_micro
FROM scored GROUP BY doc_id
"""

_PQ_SQ = lambda q, c: (  # noqa: E731 — in-order squared-distance fold
    f"list_sum([(CAST({q} AS DOUBLE) - {c}) * (CAST({q} AS DOUBLE) - {c}) "
    "for i in range(1, 17)])"
)
ORACLES["pq_ann"] = f"""
WITH seeds AS (
  SELECT embedding AS sv, row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
cb AS (
  SELECT s.sub, seeds.code,
    [CAST(x AS DOUBLE) for x in sv[s.sub * 16 + 1 : s.sub * 16 + 16]] AS cvec
  FROM seeds, unnest([0, 1, 2, 3]) AS s(sub)),
dists AS (
  SELECT e.vec_id, cb.sub, cb.code,
    {_PQ_SQ('e.embedding[cb.sub * 16 + i]', 'cb.cvec[i]')} AS d
  FROM embeddings e CROSS JOIN cb),
codes AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
    FROM dists) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding AS qv
      FROM embeddings WHERE vec_id % 97 = 0 AND vec_id < 97000),
parts AS (
  SELECT q.query_id, co.vec_id AS neighbor_id,
    CAST(round({_PQ_SQ('q.qv[co.sub * 16 + i]', 'cb.cvec[i]')}, 6)
         AS DECIMAL(18,6)) AS d
  FROM codes co
  JOIN cb ON cb.sub = co.sub AND cb.code = co.code
  CROSS JOIN q
  WHERE q.query_id <> co.vec_id),
est AS (
  SELECT query_id, neighbor_id, SUM(d) AS dist
  FROM parts GROUP BY query_id, neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, CAST(dist AS DOUBLE) AS dist_est,
    row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
  FROM est)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, dist_est
FROM ranked WHERE rank <= 5
"""

# pq_ann_refined: same contract as pq_ann, but the codebook is refined by
# ONE per-subspace k-means (Lloyd) iteration before encoding/scoring —
# assignment to the seed codebook (first-min tie-break), then per-
# (sub, code, dim) DECIMAL-exact mean rounded to 6 dp (the kmeans_update
# recipe), empty codes keeping their seed centroid. Replays
# similarity._pq_refine_once exactly.
ORACLES["pq_ann_refined"] = f"""
WITH seeds AS (
  SELECT embedding AS sv, row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
cb0 AS (
  SELECT s.sub, seeds.code,
    [CAST(x AS DOUBLE) for x in sv[s.sub * 16 + 1 : s.sub * 16 + 16]] AS cvec
  FROM seeds, unnest([0, 1, 2, 3]) AS s(sub)),
sv AS (
  SELECT e.vec_id, s.sub,
    [CAST(x AS DOUBLE) for x in e.embedding[s.sub * 16 + 1 : s.sub * 16 + 16]] AS sv
  FROM embeddings e, unnest([0, 1, 2, 3]) AS s(sub)),
d0 AS (
  SELECT sv.vec_id, sv.sub, cb0.code,
    list_sum([(sv.sv[i] - cb0.cvec[i]) * (sv.sv[i] - cb0.cvec[i])
              for i in range(1, 17)]) AS d
  FROM sv JOIN cb0 ON cb0.sub = sv.sub),
a0 AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
    FROM d0) WHERE rn = 1),
mex AS (
  SELECT a0.sub, a0.code, unnest(range(1, 17)) AS dim1, sv.sv AS msv
  FROM a0 JOIN sv ON sv.vec_id = a0.vec_id AND sv.sub = a0.sub),
means AS (
  SELECT sub, code, dim1,
    round(CAST(SUM(CAST(msv[dim1] AS DECIMAL(27,10))) AS DOUBLE)
          / CAST(count(*) AS DOUBLE), 6) AS m
  FROM mex GROUP BY 1, 2, 3),
newv AS (
  SELECT sub, code, list(m ORDER BY dim1) AS cvec FROM means GROUP BY 1, 2),
cb AS (
  SELECT cb0.sub, cb0.code, coalesce(n.cvec, cb0.cvec) AS cvec
  FROM cb0 LEFT JOIN newv n ON n.sub = cb0.sub AND n.code = cb0.code),
dists AS (
  SELECT e.vec_id, cb.sub, cb.code,
    {_PQ_SQ('e.embedding[cb.sub * 16 + i]', 'cb.cvec[i]')} AS d
  FROM embeddings e CROSS JOIN cb),
codes AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
    FROM dists) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding AS qv
      FROM embeddings WHERE vec_id % 97 = 0 AND vec_id < 97000),
parts AS (
  SELECT q.query_id, co.vec_id AS neighbor_id,
    CAST(round({_PQ_SQ('q.qv[co.sub * 16 + i]', 'cb.cvec[i]')}, 6)
         AS DECIMAL(18,6)) AS d
  FROM codes co
  JOIN cb ON cb.sub = co.sub AND cb.code = co.code
  CROSS JOIN q
  WHERE q.query_id <> co.vec_id),
est AS (
  SELECT query_id, neighbor_id, SUM(d) AS dist
  FROM parts GROUP BY query_id, neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, CAST(dist AS DOUBLE) AS dist_est,
    row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
  FROM est)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, dist_est
FROM ranked WHERE rank <= 5
"""

_L2 = lambda q, c: (  # noqa: E731 — full-vector in-order squared-L2 fold
    f"list_sum([(CAST({q}[i] AS DOUBLE) - CAST({c}[i] AS DOUBLE)) "
    f"* (CAST({q}[i] AS DOUBLE) - CAST({c}[i] AS DOUBLE)) "
    "for i in range(1, 65)])"
)
# ann_recall_ivf: recall@5 of the IVF path at nprobe=1 and nprobe=2 vs the
# exact cosine top-5, per query. Both approx sides nest the ivf_ann /
# ivf_ann_nprobe2 oracles verbatim as derived tables, so the gauge and the
# gated ANN queries stay definitionally in lockstep.
ORACLES["ann_recall_ivf"] = f"""
WITH p1 AS (
  SELECT query_id, neighbor_id FROM ({ORACLES["ivf_ann"]}) iv1),
p2 AS (
  SELECT query_id, neighbor_id FROM ({ORACLES["ivf_ann_nprobe2"]}) iv2),
q AS (SELECT vec_id AS query_id, embedding AS qv
      FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
es AS (
  SELECT q.query_id, c.neighbor_id, {_IVF_COS('q.qv', 'c.cv')} AS cosine
  FROM c, q WHERE q.query_id <> c.neighbor_id),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
    FROM es) WHERE rn <= 5)
SELECT CAST(e.query_id AS BIGINT) AS query_id,
  CAST(COUNT(*) AS BIGINT) AS n_exact,
  CAST(SUM(CASE WHEN a1.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_hit_p1,
  round(CAST(SUM(CASE WHEN a1.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE), 6) AS recall_p1,
  CAST(SUM(CASE WHEN a2.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_hit_p2,
  round(CAST(SUM(CASE WHEN a2.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE), 6) AS recall_p2
FROM exact e
LEFT JOIN p1 a1 ON e.query_id = a1.query_id AND e.neighbor_id = a1.neighbor_id
LEFT JOIN p2 a2 ON e.query_id = a2.query_id AND e.neighbor_id = a2.neighbor_id
GROUP BY e.query_id
"""

# ann_recall_pq: recall@5 of the refined PQ path vs the EXACT squared-L2
# top-5 (PQ estimates L2; a cosine baseline would gauge metric mismatch,
# not quantization error). The approx side nests the pq_ann_refined oracle
# verbatim as a derived table, so the two stay definitionally in lockstep.
ORACLES["ann_recall_pq"] = f"""
WITH approx AS (
  SELECT query_id, neighbor_id FROM ({ORACLES["pq_ann_refined"]}) pq),
q AS (SELECT vec_id AS query_id, embedding AS qv
      FROM embeddings WHERE vec_id % 97 = 0 AND vec_id < 97000),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
es AS (
  SELECT q.query_id, c.neighbor_id, round({_L2('q.qv', 'c.cv')}, 6) AS d
  FROM c, q WHERE q.query_id <> c.neighbor_id),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rn
    FROM es) WHERE rn <= 5)
SELECT e.query_id,
  CAST(count(*) AS BIGINT) AS n_exact,
  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_hit,
  round(CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS recall
FROM exact e
LEFT JOIN approx a
  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""

# merged-halves HLL must equal the full-corpus estimate (lossless merge) —
# the oracle computes directly over all events
ORACLES["hll_incremental"] = f"""
WITH h AS (
  SELECT event_type, {_HLL_H} AS hv FROM events),
rv AS (
  SELECT event_type, CAST(hv % 256 AS INT) AS idx,
    CAST(hv // 256 AS BIGINT) AS v
  FROM h),
regs AS (
  SELECT event_type, idx,
    CAST(max(CASE WHEN v = 0 THEN 25 ELSE 25 - length(bin(v)) END) AS INT) AS M
  FROM rv GROUP BY event_type, idx),
agged AS (
  SELECT event_type,
    CAST(SUM(CAST(2 AS BIGINT) ** (25 - M)) AS BIGINT) AS denom_obs,
    CAST(count(*) AS BIGINT) AS n_obs
  FROM regs GROUP BY event_type),
est AS (
  SELECT event_type,
    denom_obs + (256 - n_obs) * CAST(2 AS BIGINT) ** 25 AS denom_scaled,
    256 - n_obs AS zeros
  FROM agged),
fin AS (
  SELECT event_type,
    (0.7213 / (1.0 + 1.079 / 256)) * CAST(256 AS DOUBLE) * CAST(256 AS DOUBLE)
      * CAST(2 AS DOUBLE) ** 25 / CAST(denom_scaled AS DOUBLE) AS raw,
    zeros
  FROM est)
SELECT event_type,
  round(CASE WHEN raw <= 2.5 * 256 AND zeros > 0
             THEN CAST(256 AS DOUBLE) * ln(CAST(256 AS DOUBLE) / CAST(zeros AS DOUBLE))
             ELSE raw END, 3) AS hll_est
FROM fin
"""

_RAG_BUCKET = _hex_to_long("md5(t)", 8) + " % 64"
ORACLES["bm25_retrieval"] = f"""
WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
tft AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tk) GROUP BY 1, 2),
dl AS (SELECT doc_id, len(toks) AS dl FROM tk),
st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       FROM dl),
dfreq AS (SELECT term, count(*) AS df FROM tft GROUP BY 1),
q AS (SELECT DISTINCT unnest(toks) AS term FROM tk WHERE doc_id = 0),
contrib AS (
  SELECT t.doc_id, d.dl,
    CAST(round(
      ln((CAST(st.n_docs AS DOUBLE) - fr.df + 0.5) / (fr.df + 0.5) + 1.0)
      * ((CAST(t.tf AS DOUBLE) * 2.2)
         / (CAST(t.tf AS DOUBLE)
            + 1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE) / st.avgdl))),
      6) AS DECIMAL(18,6)) AS c
  FROM tft t
  JOIN q USING (term)
  JOIN dfreq fr USING (term)
  JOIN dl d ON d.doc_id = t.doc_id
  CROSS JOIN st)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(count(*) AS BIGINT) AS n_terms,
  CAST(max(dl) AS BIGINT) AS dl,
  CAST(sum(c) * 1000000 AS BIGINT) AS score_micro
FROM contrib
WHERE doc_id <> 0
GROUP BY doc_id
ORDER BY score_micro DESC, doc_id
LIMIT 10
"""

ORACLES["rag_retrieval"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS tk FROM documents),
st0 AS (
  SELECT doc_id, tk, unnest(range(0, len(tk), 12)) AS s
  FROM toks WHERE len(tk) > 0 AND doc_id <> 0),
ct AS (
  SELECT doc_id, CAST(s // 12 AS INT) AS chunk_id,
    unnest(tk[s + 1 : s + 16]) AS t
  FROM st0),
ctf AS (
  SELECT doc_id, chunk_id, CAST({_RAG_BUCKET} AS BIGINT) AS bucket,
    CAST(count(*) AS BIGINT) AS tf
  FROM ct GROUP BY doc_id, chunk_id, bucket),
cnorm AS (
  SELECT doc_id, chunk_id, sqrt(CAST(SUM(tf * tf) AS DOUBLE)) AS norm_c
  FROM ctf GROUP BY doc_id, chunk_id),
qt AS (SELECT unnest(tk) AS t FROM toks WHERE doc_id = 0),
qtf AS (
  SELECT CAST({_RAG_BUCKET} AS BIGINT) AS bucket,
    CAST(count(*) AS BIGINT) AS qtf
  FROM qt GROUP BY bucket),
qnorm AS (SELECT sqrt(CAST(SUM(qtf * qtf) AS DOUBLE)) AS norm_q FROM qtf),
dot AS (
  SELECT c.doc_id, c.chunk_id, CAST(SUM(c.tf * q.qtf) AS BIGINT) AS dot
  FROM ctf c JOIN qtf q ON c.bucket = q.bucket
  GROUP BY c.doc_id, c.chunk_id)
SELECT d.doc_id, d.chunk_id,
  round(CAST(d.dot AS DOUBLE) / (n.norm_c * q.norm_q), 6) AS cosine
FROM dot d
JOIN cnorm n ON d.doc_id = n.doc_id AND d.chunk_id = n.chunk_id
CROSS JOIN qnorm q
ORDER BY cosine DESC, d.doc_id, d.chunk_id
LIMIT 10
"""

ORACLES["source_overlap_matrix"] = f"""
WITH t AS (SELECT source, {TOKS} AS toks FROM documents),
s0 AS (SELECT source, {SHINGLES} AS sh FROM t),
s AS (SELECT DISTINCT source, unnest(sh) AS g FROM s0)
SELECT a.source AS src_a, b.source AS src_b,
  CAST(count(*) AS BIGINT) AS n_shared
FROM s a JOIN s b ON a.g = b.g AND a.source < b.source
GROUP BY src_a, src_b
"""


# --------------------------------------------------------------------------
# round 3 (cont.): quality classifier, markup strip, mixture planner,
# drift detection, contrastive mining, kNN label gauge
# --------------------------------------------------------------------------

_STOP_EN = "['the','and','of','to','a','in','is','that','for','with']"

ORACLES["logistic_quality"] = f"""
WITH feats AS (
  SELECT doc_id,
    CAST(len(toks) AS DOUBLE) AS nt,
    round(CAST(length(replace(lower(text), ' ', '')) AS DOUBLE)
      / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS atl,
    round(CAST(len(list_filter(toks, x -> list_contains({_STOP_EN}, x))) AS DOUBLE)
      / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS sr,
    round(CAST(len(list_distinct(toks)) AS DOUBLE)
      / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS utr
  FROM (SELECT doc_id, text, {TOKS} AS toks FROM documents)),
z AS (
  SELECT doc_id,
    CAST(-1.0 AS DOUBLE)
      + CAST(-0.1 AS DOUBLE) * atl
      + CAST(0.01 AS DOUBLE) * nt
      + CAST(2.0 AS DOUBLE) * sr
      + CAST(1.5 AS DOUBLE) * utr AS z
  FROM feats),
s AS (
  SELECT doc_id,
    round(CAST(0.5 AS DOUBLE)
      + CAST(0.5 AS DOUBLE) * z / (CAST(1.0 AS DOUBLE) + abs(z)), 6) AS quality_score
  FROM z)
SELECT doc_id, quality_score, quality_score >= CAST(0.5 AS DOUBLE) AS keep FROM s
"""

ORACLES["strip_markup"] = r"""
WITH seeded AS (
  SELECT doc_id,
    CASE WHEN doc_id % 5 = 0
         THEN '<html><body><p class="c">' || text
              || '</p><script>var a=1;</script>&amp; &lt;tail&gt;</body></html>'
         ELSE text END AS raw
  FROM documents),
stripped AS (
  SELECT doc_id,
    trim(regexp_replace(
      replace(replace(replace(replace(replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(raw, '(?si)<script[^>]*>.*?</script>', ' ', 'g'),
            '(?si)<style[^>]*>.*?</style>', ' ', 'g'),
          '<[^>]+>', ' ', 'g'),
        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&nbsp;', ' '), '&amp;', '&'),
      '\s+', ' ', 'g')) AS clean_text
  FROM seeded)
SELECT doc_id, clean_text,
  CAST(length(clean_text) AS BIGINT) AS clean_len
FROM stripped
"""

ORACLES["mixture_weights"] = """
WITH counts AS (
  SELECT source AS domain, CAST(count(*) AS BIGINT) AS n_rows
  FROM documents GROUP BY source),
ws AS (
  SELECT domain, n_rows,
    CASE domain
      WHEN 'src0' THEN CAST(0.3 AS DOUBLE)
      WHEN 'src1' THEN CAST(0.2 AS DOUBLE)
      WHEN 'src2' THEN CAST(0.2 AS DOUBLE)
      WHEN 'src3' THEN CAST(0.3 AS DOUBLE)
      ELSE CAST(0.0 AS DOUBLE) END AS target_share
  FROM counts),
b AS (
  SELECT min(CAST(n_rows AS DOUBLE) / target_share) AS budget
  FROM ws WHERE target_share > 0),
rated AS (
  SELECT domain, n_rows, target_share,
    CASE WHEN target_share > 0
         THEN least(CAST(1.0 AS DOUBLE),
                    round(target_share * budget / CAST(n_rows AS DOUBLE), 6))
         ELSE CAST(0.0 AS DOUBLE) END AS rate
  FROM ws CROSS JOIN b)
SELECT domain, n_rows, target_share, rate,
  CAST(floor(rate * CAST(n_rows AS DOUBLE)) AS BIGINT) AS n_keep
FROM rated
"""

ORACLES["temperature_mixture"] = """
WITH counts AS (
  SELECT source AS domain, CAST(count(*) AS BIGINT) AS n_rows
  FROM documents GROUP BY source),
t AS (SELECT CAST(sum(n_rows) AS DOUBLE) AS total FROM counts),
m AS (
  SELECT domain, n_rows,
    CAST(n_rows AS DOUBLE) / total AS p_raw_exact,
    CAST(sqrt(CAST(n_rows AS DOUBLE) / total) AS DECIMAL(28,12)) AS mass
  FROM counts CROSS JOIN t),
z AS (SELECT sum(mass) AS zz FROM m)
SELECT domain, n_rows,
  round(p_raw_exact, 6) AS p_raw,
  round(CAST(mass AS DOUBLE) / CAST(zz AS DOUBLE), 6) AS q_temp,
  round(CAST(mass AS DOUBLE) / CAST(zz AS DOUBLE) / p_raw_exact, 6) AS sample_factor
FROM m CROSS JOIN z
"""

ORACLES["drift_chi2"] = """
WITH bucketed AS (
  -- NULLs get the dedicated -1 bucket (mirrors the operators'
  -- missingness bucket; n_chars is NOT NULL here so output is
  -- unchanged, but the twin must share the semantics)
  SELECT CASE WHEN n_chars IS NULL THEN -1
              WHEN CAST(n_chars AS DOUBLE) >= 350 THEN 5
              WHEN CAST(n_chars AS DOUBLE) >= 300 THEN 4
              WHEN CAST(n_chars AS DOUBLE) >= 250 THEN 3
              WHEN CAST(n_chars AS DOUBLE) >= 200 THEN 2
              WHEN CAST(n_chars AS DOUBLE) >= 150 THEN 1
              ELSE 0 END AS bucket,
         doc_id % 2 = 0 AS is_ref
  FROM documents),
per_bucket AS (
  SELECT bucket,
    CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
    CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
  FROM bucketed GROUP BY bucket),
totals AS (
  SELECT CAST(sum(n_ref) AS DOUBLE) AS tot_ref,
         CAST(sum(n_cur) AS DOUBLE) AS tot_cur
  FROM per_bucket)
SELECT bucket, n_ref, n_cur,
  round(CAST(n_ref AS DOUBLE) / tot_ref, 6) AS p_ref,
  round(CAST(n_cur AS DOUBLE) / tot_cur, 6) AS q_cur,
  round(CASE WHEN CAST(n_ref AS DOUBLE) / tot_ref > 0
        THEN (CAST(n_cur AS DOUBLE) / tot_cur - CAST(n_ref AS DOUBLE) / tot_ref)
             * (CAST(n_cur AS DOUBLE) / tot_cur - CAST(n_ref AS DOUBLE) / tot_ref)
             / (CAST(n_ref AS DOUBLE) / tot_ref)
        ELSE CAST(0.0 AS DOUBLE) END, 6) AS chi2_contrib
FROM per_bucket CROSS JOIN totals
ORDER BY bucket
"""

_LBL_COS = (
    "round(CASE WHEN sqrt(" + _dot("qv", "qv") + ") * sqrt(" + _dot("cv", "cv") + ") > 0 "
    "THEN " + _dot("qv", "cv") + " / (sqrt(" + _dot("qv", "qv") + ") * sqrt(" + _dot("cv", "cv") + ")) "
    "ELSE 0.0 END, 6)"
)

ORACLES["hard_negatives"] = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS query_label
           FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < 25000),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label AS neighbor_label
      FROM embeddings),
scored AS (
  SELECT query_id, query_label, neighbor_id, neighbor_label,
    {_LBL_COS} AS cosine
  FROM c, q
  WHERE query_id <> neighbor_id AND query_label <> neighbor_label)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(query_label AS INT) AS query_label,
       CAST(neighbor_id AS BIGINT) AS neighbor_id,
       CAST(neighbor_label AS INT) AS neighbor_label,
       CAST(rn AS INT) AS rank, cosine
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
      FROM scored)
WHERE rn <= 5
"""

ORACLES["knn_label_accuracy"] = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS true_label
           FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < 25000),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label AS neighbor_label
      FROM embeddings),
scored AS (
  SELECT query_id, true_label, neighbor_id, neighbor_label,
    {_LBL_COS} AS cosine
  FROM c, q WHERE query_id <> neighbor_id),
knn AS (
  SELECT * FROM (SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
    FROM scored) WHERE rn <= 5),
votes AS (
  SELECT query_id, true_label, neighbor_label, count(*) AS votes
  FROM knn GROUP BY query_id, true_label, neighbor_label),
picked AS (
  SELECT query_id, true_label, neighbor_label AS voted_label
  FROM (SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY votes DESC, neighbor_label ASC) AS vr
    FROM votes) WHERE vr = 1)
SELECT CAST(true_label AS INT) AS label,
  CAST(count(*) AS BIGINT) AS n_queries,
  CAST(sum(CASE WHEN voted_label = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
  round(CAST(sum(CASE WHEN voted_label = true_label THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(count(*) AS DOUBLE), 6) AS agreement
FROM picked GROUP BY true_label
"""


ORACLES["dedup_keep_best"] = f"""
WITH RECURSIVE t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {SHINGLES} AS sh FROM t),
v AS (SELECT doc_id, sh, {_minhash_vals()} AS vals FROM s),
sigs AS (SELECT doc_id, sh, {_minhash_sig(16)} AS sig FROM v),
bands AS (
  SELECT doc_id,
    unnest(range(0, 8)) AS band,
    unnest({_bands(8, 2)}) AS bucket
  FROM sigs),
{_CAPPED_BANDS}
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a JOIN capped b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id),
verified AS (
  SELECT c.id_a, c.id_b
  FROM cands c
  JOIN s a ON a.doc_id = c.id_a
  JOIN s b ON b.doc_id = c.id_b
  WHERE {_JACCARD} >= 0.5),
und AS (
  SELECT id_a AS src, id_b AS dst FROM verified
  UNION SELECT id_b, id_a FROM verified),
reach(src, dst) AS (
  SELECT src, dst FROM und
  UNION
  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src),
comp AS (
  SELECT src AS id, least(src, MIN(dst)) AS c FROM reach GROUP BY src),
lab AS (
  SELECT d.doc_id, CAST(COALESCE(c.c, d.doc_id) AS BIGINT) AS component,
    round(CAST(len(list_distinct(tk.toks)) AS DOUBLE)
      / CAST(greatest(len(tk.toks), 1) AS DOUBLE), 6) AS score
  FROM documents d
  LEFT JOIN comp c ON d.doc_id = c.id
  JOIN t tk ON tk.doc_id = d.doc_id),
best AS (SELECT component, max(score) AS best_score FROM lab GROUP BY component),
keeper AS (
  SELECT l.component, min(l.doc_id) AS keeper_doc_id
  FROM lab l JOIN best b ON l.component = b.component AND l.score = b.best_score
  GROUP BY l.component),
members AS (
  SELECT component, CAST(count(*) AS BIGINT) AS n_members FROM lab GROUP BY component)
SELECT m.component, CAST(k.keeper_doc_id AS BIGINT) AS keeper_doc_id,
  b.best_score AS keeper_score, m.n_members
FROM members m
JOIN keeper k ON m.component = k.component
JOIN best b ON m.component = b.component
"""


ORACLES["skew_profile_events"] = """
WITH counts AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows
  FROM events GROUP BY event_type),
tot AS (SELECT CAST(sum(n_rows) AS DOUBLE) AS total FROM counts)
SELECT event_type, n_rows,
  round(CAST(n_rows AS DOUBLE) / total, 6) AS share,
  round(CAST(n_rows AS DOUBLE) * CAST(32.0 AS DOUBLE) / total, 6) AS skew_ratio,
  CAST(n_rows AS DOUBLE) * CAST(32.0 AS DOUBLE) / total >= CAST(2.0 AS DOUBLE) AS is_hot,
  CASE WHEN CAST(n_rows AS DOUBLE) * CAST(32.0 AS DOUBLE) / total >= CAST(2.0 AS DOUBLE)
       THEN CAST(ceil(CAST(n_rows AS DOUBLE) * CAST(32.0 AS DOUBLE) / total) AS BIGINT)
       ELSE 1 END AS salt_factor
FROM counts CROSS JOIN tot
"""


ORACLES["json_props_extract"] = """
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(k) AS BIGINT) AS sum_k,
  CAST(min(k) AS BIGINT) AS min_k,
  CAST(max(k) AS BIGINT) AS max_k
FROM (SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
GROUP BY event_type
"""

ORACLES["grouping_sets_agg"] = """
SELECT l_returnflag, l_linestatus,
  CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  CAST(count(*) AS BIGINT) AS cnt
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""

ORACLES["window_navigation"] = """
SELECT o_custkey, o_orderkey,
  first_value(o_orderkey) OVER w AS first_orderkey,
  last_value(o_orderkey) OVER w AS last_orderkey,
  nth_value(o_orderkey, 2) OVER w AS second_orderkey,
  CAST(count(*) OVER w AS BIGINT) AS n_orders
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""

ORACLES["null_safe_join"] = """
WITH left_side AS (
  SELECT c_custkey,
    CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_nationkey END AS nk
  FROM customer),
dim AS (
  SELECT n_nationkey AS dk, n_name FROM nation
  UNION ALL SELECT CAST(NULL AS BIGINT), 'UNKNOWN')
SELECT d.n_name, CAST(count(*) AS BIGINT) AS n_customers
FROM left_side l JOIN dim d ON l.nk IS NOT DISTINCT FROM d.dk
GROUP BY d.n_name
"""

ORACLES["fuzzy_match_names"] = """
WITH probes AS (
  SELECT s_suppkey AS probe_id,
    substr(s_name, 1, 3) || substr(s_name, 5, 100) AS probe_name
  FROM supplier WHERE s_suppkey % 200 = 3)
SELECT p.probe_id, p.probe_name, s.s_suppkey, s.s_name,
  CAST(levenshtein(s.s_name, p.probe_name) AS BIGINT) AS dist
FROM supplier s CROSS JOIN probes p
WHERE levenshtein(s.s_name, p.probe_name) <= 2
"""

ORACLES["vector_stats"] = f"""
SELECT vec_id,
  round(sqrt({_dot('embedding', 'embedding')}), 6) AS l2_norm,
  round(list_sum([CAST(embedding[i] AS DOUBLE) for i in range(1, 65)])
    / CAST(len(embedding) AS DOUBLE), 6) AS mean_val,
  round(CAST(list_min(embedding) AS DOUBLE), 6) AS min_val,
  round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_val,
  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_positive
FROM embeddings
"""


_V3_TOKS = "list_filter(string_split(lower(clean_text), ' '), x -> x <> '')"

ORACLES["training_pipeline_v3"] = f"""
WITH seeded AS (
  SELECT doc_id, source,
    CASE WHEN doc_id % 5 = 0
         THEN '<html><body><p class="c">' || text
              || '</p><script>var a=1;</script>&amp; &lt;tail&gt;</body></html>'
         ELSE text END AS raw
  FROM documents),
cleaned AS (
  SELECT doc_id, source,
    trim(regexp_replace(
      replace(replace(replace(replace(replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(raw, '(?si)<script[^>]*>.*?</script>', ' ', 'g'),
            '(?si)<style[^>]*>.*?</style>', ' ', 'g'),
          '<[^>]+>', ' ', 'g'),
        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&nbsp;', ' '), '&amp;', '&'),
      '\\s+', ' ', 'g')) AS clean_text
  FROM seeded),
feats AS (
  SELECT doc_id, source,
    CAST(len(toks) AS DOUBLE) AS nt,
    round(CAST(length(replace(lower(clean_text), ' ', '')) AS DOUBLE)
      / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS atl,
    round(CAST(len(list_filter(toks, x -> list_contains({_STOP_EN}, x))) AS DOUBLE)
      / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS sr,
    round(CAST(len(list_distinct(toks)) AS DOUBLE)
      / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS utr
  FROM (SELECT doc_id, source, clean_text, {_V3_TOKS} AS toks FROM cleaned)),
z AS (
  SELECT doc_id, source,
    CAST(-1.0 AS DOUBLE)
      + CAST(-0.1 AS DOUBLE) * atl
      + CAST(0.01 AS DOUBLE) * nt
      + CAST(2.0 AS DOUBLE) * sr
      + CAST(1.5 AS DOUBLE) * utr AS z
  FROM feats),
kept AS (
  SELECT doc_id, source,
    round(CAST(0.5 AS DOUBLE)
      + CAST(0.5 AS DOUBLE) * z / (CAST(1.0 AS DOUBLE) + abs(z)), 6) AS quality_score
  FROM z
  WHERE round(CAST(0.5 AS DOUBLE)
      + CAST(0.5 AS DOUBLE) * z / (CAST(1.0 AS DOUBLE) + abs(z)), 6)
      >= CAST(0.45 AS DOUBLE)),
kcounts AS (
  SELECT source AS domain, CAST(count(*) AS BIGINT) AS n_rows
  FROM kept GROUP BY source),
ws AS (
  SELECT domain, n_rows,
    CASE domain
      WHEN 'src0' THEN CAST(0.3 AS DOUBLE)
      WHEN 'src1' THEN CAST(0.2 AS DOUBLE)
      WHEN 'src2' THEN CAST(0.2 AS DOUBLE)
      WHEN 'src3' THEN CAST(0.3 AS DOUBLE)
      ELSE CAST(0.0 AS DOUBLE) END AS target_share
  FROM kcounts),
b AS (
  SELECT min(CAST(n_rows AS DOUBLE) / target_share) AS budget
  FROM ws WHERE target_share > 0),
rated AS (
  SELECT domain, n_rows AS n_kept, target_share,
    CASE WHEN target_share > 0
         THEN least(CAST(1.0 AS DOUBLE),
                    round(target_share * budget / CAST(n_rows AS DOUBLE), 6))
         ELSE CAST(0.0 AS DOUBLE) END AS rate
  FROM ws CROSS JOIN b),
final AS (
  SELECT k.doc_id, k.source
  FROM kept k JOIN rated r ON k.source = r.domain
  WHERE {_HASH_FRAC('mix')} < r.rate),
fcounts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_final FROM final GROUP BY source),
rawc AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_raw FROM documents GROUP BY source)
SELECT rawc.source, rawc.n_raw,
  CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
  coalesce(r.rate, CAST(0.0 AS DOUBLE)) AS rate,
  CAST(coalesce(f.n_final, 0) AS BIGINT) AS n_final
FROM rawc
LEFT JOIN rated r ON rawc.source = r.domain
LEFT JOIN fcounts f ON rawc.source = f.source
"""


ORACLES["interval_join_sessions"] = """
WITH f AS (
  SELECT user_id, CAST(min(epoch_us(ts) // 1000000) AS DOUBLE) AS lo
  FROM events GROUP BY user_id),
w AS (SELECT user_id, lo, lo + 1800 AS hi FROM f)
SELECT a.user_id AS user_a, b.user_id AS user_b,
  CAST(least(a.hi, b.hi) - greatest(a.lo, b.lo) AS BIGINT) AS overlap_secs
FROM w a JOIN w b
  ON a.lo < b.hi AND b.lo < a.hi AND a.user_id < b.user_id
"""

ORACLES["percent_rank_quality"] = """
SELECT doc_id, lang, n_chars,
  round(percent_rank() OVER w, 6) AS len_pct_rank,
  round(cume_dist() OVER w, 6) AS len_cume_dist
FROM documents
WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)
"""


ORACLES["cdc_changed_columns"] = """
WITH oldv AS (
  SELECT o_orderkey, o_orderstatus,
    CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice, o_orderpriority
  FROM orders),
newv AS (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % 4 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
    CASE WHEN o_orderkey % 3 = 0
         THEN CAST(o_totalprice AS DECIMAL(18,2)) + CAST(10 AS DECIMAL(18,2))
         ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS o_totalprice,
    CASE WHEN o_orderkey % 5 = 0 THEN '0-URGENT' ELSE o_orderpriority END AS o_orderpriority
  FROM orders),
flagged AS (
  SELECT o.o_orderkey,
    list_filter([
      CASE WHEN NOT (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus) THEN 'o_orderstatus' END,
      CASE WHEN NOT (o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice) THEN 'o_totalprice' END,
      CASE WHEN NOT (o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority) THEN 'o_orderpriority' END
    ], x -> x IS NOT NULL) AS changed
  FROM oldv o JOIN newv n ON o.o_orderkey = n.o_orderkey)
SELECT o_orderkey,
  array_to_string(changed, ',') AS changed_cols,
  CAST(len(changed) AS BIGINT) AS n_changed
FROM flagged
WHERE len(changed) > 0
"""


ORACLES["dense_rank_ties"] = """
SELECT o_orderpriority, o_orderkey,
  CAST(price AS DOUBLE) AS price,
  CAST(rnk AS BIGINT) AS rank
FROM (
  SELECT o_orderpriority, o_orderkey,
    CAST(o_totalprice AS DECIMAL(18,2)) AS price,
    dense_rank() OVER (PARTITION BY o_orderpriority
                       ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC) AS rnk
  FROM orders)
WHERE rnk <= 2
"""

ORACLES["time_rollup"] = """
SELECT CAST(date_part('year', ts) AS BIGINT) AS yy,
  CAST(date_part('month', ts) AS BIGINT) AS mm,
  CAST(date_part('day', ts) AS BIGINT) AS dd,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY ROLLUP (yy, mm, dd)
"""

ORACLES["sliding_count_1h"] = """
SELECT event_id, user_id,
  CAST(count(*) OVER (PARTITION BY user_id ORDER BY ep
        RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_last_hour
FROM (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS ep FROM events)
"""

ORACLES["funnel_within_1h"] = """
WITH typed AS (
  SELECT user_id, event_type, epoch_us(ts) // 1000000 AS ep FROM events),
first_view AS (
  SELECT user_id, min(ep) AS view_ep FROM typed
  WHERE event_type = 'view' GROUP BY user_id),
conv AS (
  SELECT t.user_id, min(t.ep) AS purchase_ep
  FROM typed t JOIN first_view f ON t.user_id = f.user_id
  WHERE t.event_type = 'purchase'
    AND t.ep >= f.view_ep AND t.ep < f.view_ep + 3600
  GROUP BY t.user_id)
SELECT f.user_id, CAST(f.view_ep AS BIGINT) AS view_ep,
  c.purchase_ep IS NOT NULL AS converted,
  CAST(c.purchase_ep - f.view_ep AS BIGINT) AS delay_secs
FROM first_view f LEFT JOIN conv c ON f.user_id = c.user_id
"""


# oracle = the CROSS-JOIN definition: proves trigram blocking is lossless
ORACLES["fuzzy_join_suppliers"] = """
WITH probes AS (
  SELECT s_suppkey AS probe_id,
    substr(s_name, 1, 3) || substr(s_name, 5, 100) AS probe_name
  FROM supplier WHERE s_suppkey % 200 = 3)
SELECT p.probe_id, p.probe_name, s.s_suppkey, s.s_name,
  CAST(levenshtein(p.probe_name, s.s_name) AS BIGINT) AS dist
FROM probes p CROSS JOIN supplier s
WHERE levenshtein(p.probe_name, s.s_name) <= 2
"""


ORACLES["url_canonicalize"] = """
WITH u AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END)
    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE 'www.' END)
    || 'Site' || CAST(doc_id % 7 AS VARCHAR) || '.Example.COM/page/'
    || CAST(doc_id % 50 AS VARCHAR)
    || (CASE WHEN doc_id % 4 = 0 THEN '/?utm_source=feed&utm_b=2' ELSE '' END)
    || (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url
  FROM documents),
c1 AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(regexp_replace(
      url, '#.*$', ''), '\\?utm_[^#]*$', ''), '/$', '') AS canon
  FROM u),
parts AS (
  SELECT doc_id,
    lower(regexp_extract(canon, '^([A-Za-z]+)://', 1)) AS scheme,
    regexp_replace(canon, '^[A-Za-z]+://', '') AS rest
  FROM c1),
p2 AS (
  SELECT doc_id, scheme,
    lower(regexp_extract(rest, '^([^/]+)', 1)) AS host,
    regexp_replace(rest, '^[^/]+', '') AS path
  FROM parts)
SELECT host, scheme || '://' || host || path AS canonical_url,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
FROM p2 GROUP BY host, canonical_url
"""

ORACLES["dup_cluster_histogram"] = f"""
WITH RECURSIVE t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {SHINGLES} AS sh FROM t),
v AS (SELECT doc_id, sh, {_minhash_vals()} AS vals FROM s),
sigs AS (SELECT doc_id, sh, {_minhash_sig(16)} AS sig FROM v),
bands AS (
  SELECT doc_id,
    unnest(range(0, 8)) AS band,
    unnest({_bands(8, 2)}) AS bucket
  FROM sigs),
{_CAPPED_BANDS}
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a JOIN capped b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id),
verified AS (
  SELECT c.id_a, c.id_b
  FROM cands c
  JOIN s a ON a.doc_id = c.id_a
  JOIN s b ON b.doc_id = c.id_b
  WHERE {_JACCARD} >= 0.5),
und AS (
  SELECT id_a AS src, id_b AS dst FROM verified
  UNION SELECT id_b, id_a FROM verified),
reach(src, dst) AS (
  SELECT src, dst FROM und
  UNION
  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src),
comp AS (
  SELECT src AS id, least(src, MIN(dst)) AS c FROM reach GROUP BY src),
labeled AS (
  SELECT d.doc_id, CAST(COALESCE(c.c, d.doc_id) AS BIGINT) AS component
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
sizes AS (
  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
  FROM labeled GROUP BY component)
SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
  CAST(count(*) * cluster_size AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size
"""

ORACLES["split_leakage_audit"] = f"""
WITH t AS (
  SELECT doc_id,
    CASE WHEN {_HASH_FRAC('split')} >= 0.2 THEN 'train' ELSE 'holdout' END AS split,
    {TOKS} AS toks
  FROM documents),
s0 AS (SELECT doc_id, split, {SHINGLES} AS sh FROM t),
s AS (SELECT DISTINCT split, unnest(sh) AS g FROM s0),
pg AS (
  SELECT g,
    max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_train,
    max(CASE WHEN split = 'holdout' THEN 1 ELSE 0 END) AS in_holdout
  FROM s GROUP BY g)
SELECT CAST(count(*) AS BIGINT) AS n_grams,
  CAST(sum(in_train * in_holdout) AS BIGINT) AS n_leaked,
  round(CAST(sum(in_train * in_holdout) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
    AS leak_ratio
FROM pg
"""


ORACLES["mad_outliers"] = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type),
madt AS (
  SELECT e.event_type, any_value(m.med) AS med,
    quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m ON e.event_type = m.event_type
  GROUP BY e.event_type),
bounds AS (
  SELECT event_type,
    round(med, 6) AS median_value,
    round(mad, 6) AS mad,
    round(med - mad * CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE), 6) AS lo,
    round(med + mad * CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE), 6) AS hi
  FROM madt)
SELECT e.event_type, b.median_value, b.mad,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CASE WHEN e.value < b.lo OR e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT)
    AS n_outliers
FROM events e JOIN bounds b ON e.event_type = b.event_type
GROUP BY e.event_type, b.median_value, b.mad
"""

ORACLES["dataset_card"] = f"""
WITH feats AS (
  SELECT doc_id, source, lang, n_chars,
    CAST(len(toks) AS DOUBLE) AS nt_d,
    len(toks) AS nt,
    round(CAST(length(replace(lower(text), ' ', '')) AS DOUBLE)
      / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS atl,
    round(CAST(len(list_filter(toks, x -> list_contains({_STOP_EN}, x))) AS DOUBLE)
      / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS sr,
    round(CAST(len(list_distinct(toks)) AS DOUBLE)
      / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS utr
  FROM (SELECT doc_id, source, lang, n_chars, text, {TOKS} AS toks FROM documents)),
z AS (
  SELECT *, CAST(-1.0 AS DOUBLE)
      + CAST(-0.1 AS DOUBLE) * atl
      + CAST(0.01 AS DOUBLE) * nt_d
      + CAST(2.0 AS DOUBLE) * sr
      + CAST(1.5 AS DOUBLE) * utr AS zz
  FROM feats),
q AS (
  SELECT source, lang, n_chars, nt,
    round(CAST(0.5 AS DOUBLE)
      + CAST(0.5 AS DOUBLE) * zz / (CAST(1.0 AS DOUBLE) + abs(zz)), 6) AS qs
  FROM z)
SELECT source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(nt) AS BIGINT) AS n_tokens,
  round(CAST(sum(CAST(qs AS DECIMAL(18,6))) AS DOUBLE)
    / CAST(count(*) AS DOUBLE), 6) AS mean_quality,
  round(CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(count(*) AS DOUBLE), 6) AS en_share,
  round(CAST(sum(CAST(n_chars AS DECIMAL(18,4))) AS DOUBLE)
    / CAST(count(*) AS DOUBLE), 6) AS mean_chars
FROM q GROUP BY source
"""


ORACLES["session_conversion"] = """
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
    CASE WHEN (epoch_us(ts) // 1000000) - lag(epoch_us(ts) // 1000000) OVER w > 1800
         THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, event_type,
    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked),
per_session AS (
  SELECT user_id, session_id,
    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM sess GROUP BY user_id, session_id)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
  CAST(sum(converted) AS BIGINT) AS n_converting,
  round(CAST(sum(converted) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
    AS conversion_rate
FROM per_session GROUP BY user_id
"""

ORACLES["top_terms_per_source"] = f"""
WITH tf AS (
  SELECT source, unnest(toks) AS term
  FROM (SELECT source, {TOKS} AS toks FROM documents)),
counted AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS cnt
  FROM tf GROUP BY source, term)
SELECT source, term, cnt, CAST(rnk AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY cnt DESC, term ASC) AS rnk
      FROM counted)
WHERE rnk <= 3
"""


ORACLES["dau_wau"] = """
WITH user_days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
  FROM events),
dau AS (
  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
  FROM user_days GROUP BY day),
covered AS (
  SELECT user_id, day + off * INTERVAL 1 DAY AS wday
  FROM user_days, unnest(range(0, 7)) AS t(off)),
wau AS (
  SELECT wday AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
  FROM covered GROUP BY wday)
SELECT d.day, d.dau, w.wau
FROM dau d JOIN wau w ON d.day = w.day
"""

ORACLES["first_touch_attribution"] = """
WITH first AS (
  SELECT user_id, event_type AS first_touch
  FROM (SELECT user_id, event_type,
          row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events)
  WHERE rn = 1),
purchases AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
SELECT f.first_touch,
  CAST(count(*) AS BIGINT) AS n_users,
  CAST(sum(coalesce(p.n_purchases, 0)) AS BIGINT) AS n_purchases,
  round(CAST(sum(CAST(coalesce(p.purchase_value, 0.0) AS DECIMAL(18,4))) AS DOUBLE), 4)
    AS attributed_value
FROM first f LEFT JOIN purchases p ON f.user_id = p.user_id
GROUP BY f.first_touch
"""



ORACLES["asof_join_forward"] = """
WITH ev AS (SELECT event_id, user_id % 20 AS k, ts FROM events),
q AS (
  SELECT o_orderkey % 20 AS k, o_orderdate, max(o_totalprice) AS price
  FROM orders GROUP BY 1, 2)
SELECT ev.event_id, CAST(ev.k AS BIGINT) AS k,
       q.o_orderdate AS asof_ts, q.price AS price
FROM ev ASOF LEFT JOIN q ON ev.k = q.k AND ev.ts <= q.o_orderdate
"""

ORACLES["asof_join_tiebreak"] = """
WITH ev AS (SELECT event_id, user_id % 20 AS k, ts FROM events),
q AS (
  SELECT o_orderkey % 20 AS k, o_orderdate, max(o_totalprice) AS price
  FROM orders GROUP BY 1, 2)
SELECT ev.event_id, CAST(ev.k AS BIGINT) AS k,
       q.o_orderdate AS asof_ts, q.price AS price
FROM ev ASOF LEFT JOIN q ON ev.k = q.k AND ev.ts >= q.o_orderdate
"""

ORACLES["asof_join_tolerance"] = """
WITH ev AS (SELECT event_id, user_id % 20 AS k, ts FROM events),
q AS (
  SELECT o_orderkey % 20 AS k, o_orderdate, max(o_totalprice) AS price
  FROM orders GROUP BY 1, 2)
SELECT ev.event_id, CAST(ev.k AS BIGINT) AS k,
  CASE WHEN q.o_orderdate IS NOT NULL
            AND epoch_us(ev.ts) / 1000000.0 - epoch_us(q.o_orderdate) / 1000000.0
                <= 2592000.0
       THEN q.o_orderdate END AS asof_ts,
  CASE WHEN q.o_orderdate IS NOT NULL
            AND epoch_us(ev.ts) / 1000000.0 - epoch_us(q.o_orderdate) / 1000000.0
                <= 2592000.0
       THEN q.price END AS price
FROM ev ASOF LEFT JOIN q ON ev.k = q.k AND ev.ts >= q.o_orderdate
"""

ORACLES["scd2_point_in_time"] = f"""
WITH dim2 AS ({ORACLES["scd2_merge"]}),
probes AS (
  SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS probe_date FROM orders)
SELECT p.k, p.probe_date, d.status, d.price, d.is_current
FROM probes p JOIN dim2 d
  ON p.k = d.k
 AND d.effective_from <= p.probe_date
 AND p.probe_date < d.effective_to
"""


ORACLES["unpivot_metrics"] = f"""
WITH panel AS ({ORACLES["dataset_card"]})
SELECT source, metric, value FROM (
  SELECT source,
    CAST(n_docs AS DOUBLE) AS n_docs,
    CAST(n_tokens AS DOUBLE) AS n_tokens,
    mean_quality, en_share, mean_chars
  FROM panel)
UNPIVOT (value FOR metric IN (n_docs, n_tokens, mean_quality, en_share, mean_chars))
"""

ORACLES["event_lift"] = """
WITH baskets AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
    event_type
  FROM events),
totals AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_baskets
  FROM (SELECT DISTINCT user_id, day FROM baskets)),
singles AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM baskets GROUP BY event_type),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
    CAST(count(*) AS BIGINT) AS n_joint
  FROM baskets a JOIN baskets b
    ON a.user_id = b.user_id AND a.day = b.day AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT p.type_a, p.type_b, p.n_joint, sa.n AS n_a, sb.n AS n_b,
  round(CAST(p.n_joint AS DOUBLE) / t.n_baskets, 6) AS support,
  round((CAST(p.n_joint AS DOUBLE) * t.n_baskets)
    / (CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE)), 6) AS lift
FROM pairs p
JOIN singles sa ON p.type_a = sa.event_type
JOIN singles sb ON p.type_b = sb.event_type
CROSS JOIN totals t
"""


_GEO_FRAC = lambda salt: (  # noqa: E731 — md5 uniform keyed on c_custkey
    _hex_to_long(f"md5('{salt}' || '|' || CAST(c_custkey AS VARCHAR))", 8)
    + " / 4294967296.0"
)

# oracle = brute-force cross join: proves grid-cell blocking is lossless
ORACLES["geo_nearby_customers"] = f"""
WITH pts AS (
  SELECT c_custkey AS pid,
    round(({_GEO_FRAC('lat')}) * 10, 6) AS x,
    round(({_GEO_FRAC('lon')}) * 10, 6) AS y
  FROM customer)
SELECT a.pid AS id_a, b.pid AS id_b,
  round((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y), 6) AS dist_sq
FROM pts a JOIN pts b ON a.pid < b.pid
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 0.25 * 0.25
"""


ORACLES["quality_percentile_gate"] = f"""
WITH scored AS (
  SELECT doc_id, source,
    round(CAST(0.5 AS DOUBLE)
      + CAST(0.5 AS DOUBLE) * z / (CAST(1.0 AS DOUBLE) + abs(z)), 6)
      AS quality_score
  FROM (
    SELECT doc_id, source,
      CAST(-1.0 AS DOUBLE)
        + CAST(-0.1 AS DOUBLE) * atl
        + CAST(0.01 AS DOUBLE) * nt
        + CAST(2.0 AS DOUBLE) * sr
        + CAST(1.5 AS DOUBLE) * utr AS z
    FROM (
      SELECT doc_id, source,
        CAST(len(toks) AS DOUBLE) AS nt,
        round(CAST(length(replace(lower(text), ' ', '')) AS DOUBLE)
          / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS atl,
        round(CAST(len(list_filter(toks, x -> list_contains({_STOP_EN}, x))) AS DOUBLE)
          / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS sr,
        round(CAST(len(list_distinct(toks)) AS DOUBLE)
          / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS utr
      FROM (SELECT doc_id, source, text, {TOKS} AS toks FROM documents)))),
ranked AS (
  SELECT doc_id, source, quality_score,
    round(percent_rank() OVER (PARTITION BY source
      ORDER BY quality_score, doc_id), 6) AS pr
  FROM scored)
SELECT doc_id, source, quality_score, pr AS quality_pct_rank
FROM ranked WHERE pr >= CAST(0.4 AS DOUBLE)
"""

ORACLES["transition_matrix"] = """
WITH pairs AS (
  SELECT lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS from_state,
         event_type AS to_state
  FROM events WHERE event_type IS NOT NULL),
c AS (
  SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n
  FROM pairs WHERE from_state IS NOT NULL GROUP BY 1, 2)
SELECT from_state, to_state, n,
  round(CAST(n AS DOUBLE)
    / CAST(sum(n) OVER (PARTITION BY from_state) AS DOUBLE), 6) AS p
FROM c
"""

ORACLES["time_weighted_avg"] = """
WITH gaps AS (
  SELECT event_type,
    CAST(value AS DECIMAL(18,4)) AS v,
    lead(epoch_us(ts) // 1000000) OVER (
      PARTITION BY user_id ORDER BY ts, event_id)
      - epoch_us(ts) // 1000000 AS dt
  FROM events WHERE value IS NOT NULL)
SELECT event_type AS "group",
  CAST(count(*) AS BIGINT) AS n_intervals,
  CAST(sum(dt) AS BIGINT) AS total_seconds,
  round(CAST(sum(v * dt) AS DOUBLE) / CAST(sum(dt) AS DOUBLE), 6) AS twa
FROM gaps WHERE dt IS NOT NULL GROUP BY 1
"""

ORACLES["interpolate_daily"] = """
WITH daily AS (
  SELECT event_type AS key, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
  FROM events WHERE day(CAST(ts AS DATE)) % 5 <> 0 GROUP BY 1, 2),
cal AS (
  SELECT key, CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                          CAST(hi AS TIMESTAMP),
                                          INTERVAL 1 DAY)) AS DATE) AS day
  FROM (SELECT key, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY 1)),
j AS (
  SELECT c.key, c.day, d.v
  FROM cal c LEFT JOIN daily d ON c.key = d.key AND c.day = d.day),
nbr AS (
  SELECT key, day, v,
    last_value(v IGNORE NULLS) OVER (
      PARTITION BY key ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER (
      PARTITION BY key ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
    first_value(v IGNORE NULLS) OVER (
      PARTITION BY key ORDER BY day
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER (
      PARTITION BY key ORDER BY day
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM j)
SELECT key AS event_type, day,
  round(CASE WHEN v IS NOT NULL THEN v
        ELSE pv + (nv - pv)
          * (CAST(date_diff('day', pd, day) AS DOUBLE)
             / CAST(date_diff('day', pd, nd) AS DOUBLE)) END, 6) AS value,
  v IS NULL AS filled
FROM nbr
"""

ORACLES["pareto_frontier"] = """
WITH pc AS (
  SELECT p_retailprice AS c, max(p_size) AS b FROM part GROUP BY 1),
surv AS (
  SELECT c, b FROM pc p
  WHERE NOT EXISTS (
    SELECT 1 FROM pc q WHERE q.c < p.c AND q.b >= p.b))
SELECT t.p_partkey, t.p_retailprice, t.p_size
FROM part t JOIN surv s ON t.p_retailprice = s.c AND t.p_size = s.b
"""

ORACLES["pmi_collocations"] = f"""
WITH base AS (SELECT {TOKS} AS t FROM documents),
uni AS (SELECT unnest(t) AS w FROM base),
uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM uc),
bi AS (
  SELECT unnest(list_transform(
    list_slice(t, 1, len(t) - 1),
    (x, i) -> {{'w1': x, 'w2': t[i + 1]}})) AS s
  FROM base WHERE len(t) >= 2),
bc AS (
  SELECT s.w1 AS w1, s.w2 AS w2, CAST(count(*) AS BIGINT) AS n_joint
  FROM bi GROUP BY 1, 2),
mtot AS (SELECT CAST(sum(n_joint) AS DOUBLE) AS m FROM bc)
SELECT b.w1, b.w2, b.n_joint, u1.c AS n_w1, u2.c AS n_w2,
  round((CAST(b.n_joint AS DOUBLE) / m)
    / ((CAST(u1.c AS DOUBLE) / n) * (CAST(u2.c AS DOUBLE) / n)), 6) AS lift
FROM bc b
JOIN uc u1 ON b.w1 = u1.w
JOIN uc u2 ON b.w2 = u2.w
CROSS JOIN tot CROSS JOIN mtot
WHERE b.n_joint >= 5
"""

ORACLES["rfm_segmentation"] = """
WITH pc AS (
  SELECT o_custkey AS cust, max(o_orderdate) AS last_d,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS monetary_cents
  FROM orders GROUP BY 1),
g AS (SELECT max(o_orderdate) AS gmax FROM orders),
base AS (
  SELECT cust,
         CAST(date_diff('day', last_d, gmax) AS BIGINT) AS recency_days,
         frequency, monetary_cents
  FROM pc CROSS JOIN g),
b AS (
  SELECT quantile_cont(-recency_days, 0.25) AS r1,
         quantile_cont(-recency_days, 0.5)  AS r2,
         quantile_cont(-recency_days, 0.75) AS r3,
         quantile_cont(frequency, 0.25) AS f1,
         quantile_cont(frequency, 0.5)  AS f2,
         quantile_cont(frequency, 0.75) AS f3,
         quantile_cont(monetary_cents, 0.25) AS m1,
         quantile_cont(monetary_cents, 0.5)  AS m2,
         quantile_cont(monetary_cents, 0.75) AS m3
  FROM base),
s AS (
  SELECT cust, recency_days, frequency, monetary_cents,
    1 + CAST(-recency_days > r1 AS INT) + CAST(-recency_days > r2 AS INT)
      + CAST(-recency_days > r3 AS INT) AS r,
    1 + CAST(frequency > f1 AS INT) + CAST(frequency > f2 AS INT)
      + CAST(frequency > f3 AS INT) AS f,
    1 + CAST(monetary_cents > m1 AS INT) + CAST(monetary_cents > m2 AS INT)
      + CAST(monetary_cents > m3 AS INT) AS m
  FROM base CROSS JOIN b)
SELECT cust, recency_days, frequency, monetary_cents, r, f, m,
       CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
         AS segment
FROM s
"""

ORACLES["autocorr_daily"] = """
WITH daily AS (
  SELECT event_type AS key, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2),
p AS (
  SELECT key, v,
         lag(v) OVER (PARTITION BY key ORDER BY day) AS v_prev
  FROM daily)
SELECT key, CAST(count(*) AS BIGINT) AS n_days,
       round(corr(v, v_prev), 6) AS acf1
FROM p GROUP BY 1 HAVING count(*) >= 3
"""

# log10(1 + 1/d) literals shared with relational.BENFORD_P — neither
# engine evaluates a transcendental at query time.
_BENFORD_CASE = """CASE digit
  WHEN 1 THEN 0.3010299956639812 WHEN 2 THEN 0.17609125905568124
  WHEN 3 THEN 0.12493873660829993 WHEN 4 THEN 0.09691001300805642
  WHEN 5 THEN 0.07918124604762482 WHEN 6 THEN 0.06694678963061322
  WHEN 7 THEN 0.05799194697768673 WHEN 8 THEN 0.05115252244738129
  WHEN 9 THEN 0.04575749056067514 END"""

ORACLES["benford_prices"] = f"""
WITH d AS (
  SELECT regexp_extract(
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
           '([1-9])', 1) AS ds
  FROM orders),
c AS (
  SELECT CAST(ds AS INT) AS digit, CAST(count(*) AS BIGINT) AS n
  FROM d WHERE ds <> '' GROUP BY 1),
t AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM c)
SELECT digit, n,
       round(CAST(n AS DOUBLE) / tot, 6) AS share,
       round({_BENFORD_CASE}, 6) AS benford_p,
       round(CAST(n AS DOUBLE) / tot - {_BENFORD_CASE}, 6) AS deviation
FROM c CROSS JOIN t
"""

ORACLES["event_trigrams"] = """
WITH g AS (
  SELECT lag(event_type, 2) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS s1,
         lag(event_type, 1) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS s2,
         event_type AS s3
  FROM events WHERE event_type IS NOT NULL)
SELECT s1, s2, s3, CAST(count(*) AS BIGINT) AS cnt
FROM g WHERE s1 IS NOT NULL
GROUP BY 1, 2, 3 HAVING count(*) >= 5
"""

ORACLES["ewma_daily"] = """
WITH daily AS (
  SELECT event_type AS key, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2),
l AS (
  SELECT key, day, v,
         lag(v, 1) OVER w AS l1, lag(v, 2) OVER w AS l2,
         lag(v, 3) OVER w AS l3, lag(v, 4) OVER w AS l4,
         lag(v, 5) OVER w AS l5, lag(v, 6) OVER w AS l6
  FROM daily WINDOW w AS (PARTITION BY key ORDER BY day))
SELECT key, day, v,
  round(
    (v + coalesce(l1 * 0.5, 0.0) + coalesce(l2 * 0.25, 0.0)
       + coalesce(l3 * 0.125, 0.0) + coalesce(l4 * 0.0625, 0.0)
       + coalesce(l5 * 0.03125, 0.0) + coalesce(l6 * 0.015625, 0.0))
    / (1.0 + CASE WHEN l1 IS NOT NULL THEN 0.5 ELSE 0.0 END
           + CASE WHEN l2 IS NOT NULL THEN 0.25 ELSE 0.0 END
           + CASE WHEN l3 IS NOT NULL THEN 0.125 ELSE 0.0 END
           + CASE WHEN l4 IS NOT NULL THEN 0.0625 ELSE 0.0 END
           + CASE WHEN l5 IS NOT NULL THEN 0.03125 ELSE 0.0 END
           + CASE WHEN l6 IS NOT NULL THEN 0.015625 ELSE 0.0 END),
    6) AS ewma
FROM l
"""

# Two unrolled PageRank power iterations; contribution quantization
# (round 12dp -> DECIMAL(28,12) -> exact sum) mirrors operators/graph.py
# so destination sums are order-independent in both engines. Every
# float literal is CAST to DOUBLE so the IEEE op shapes match Spark's
# lit(double) arithmetic bit-for-bit.
_PR_ITER = """
c{i} AS MATERIALIZED (
  SELECT e.dst AS node,
         sum(CAST(round(r."rank" / CAST(o.outdeg AS DOUBLE), 12)
                  AS DECIMAL(28,12))) AS inr
  FROM e JOIN r{p} r ON e.src = r.node JOIN deg o ON r.node = o.node
  GROUP BY 1),
d{i} AS MATERIALIZED (
  SELECT coalesce(sum(CAST(round("rank", 12) AS DECIMAL(28,12))),
                  CAST(0 AS DECIMAL(28,12))) AS dm
  FROM r{p} WHERE node NOT IN (SELECT node FROM deg)),
r{i} AS MATERIALIZED (
  SELECT r.node,
         round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                 / CAST(n AS DOUBLE)
               + CAST(0.85 AS DOUBLE)
                 * coalesce(CAST(c.inr AS DOUBLE), CAST(0.0 AS DOUBLE))
               + CAST(0.85 AS DOUBLE) * CAST(d.dm AS DOUBLE)
                 / CAST(n AS DOUBLE), 6) AS "rank"
  FROM r{p} r LEFT JOIN c{i} c ON r.node = c.node
  CROSS JOIN d{i} d CROSS JOIN nn)"""

ORACLES["pagerank_parts"] = f"""
WITH b AS MATERIALIZED (
  SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS p,
                  's' || CAST(l_suppkey AS VARCHAR) AS s
  FROM lineitem),
e AS MATERIALIZED (
  SELECT p AS src, s AS dst FROM b
  UNION ALL
  SELECT s AS src, p AS dst FROM b),
deg AS MATERIALIZED (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
  FROM e GROUP BY 1),
nodes AS MATERIALIZED (
  SELECT DISTINCT src AS node FROM e
  UNION
  SELECT DISTINCT dst AS node FROM e),
nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
r0 AS MATERIALIZED (
  SELECT node, CAST(1.0 AS DOUBLE) / CAST(n AS DOUBLE) AS "rank"
  FROM nodes CROSS JOIN nn),
{_PR_ITER.format(i=1, p=0)},
{_PR_ITER.format(i=2, p=1)}
SELECT node, "rank" FROM r2
"""

# Weighted variant: share = (rank * greatest(round(w,6),0)) / outw, same
# quantize-then-decimal-sum discipline; negative weights clamp to 0 and
# zero-total sources drop out of wdeg and are treated as dangling,
# mirroring graph._clamped_weight / graph.out_weights exactly.
_PR_W_ITER = """
c{i} AS MATERIALIZED (
  SELECT e.dst AS node,
         sum(CAST(round(r."rank"
                          * greatest(round(CAST(e.w AS DOUBLE), 6),
                                     CAST(0.0 AS DOUBLE))
                          / o.outw,
                        12) AS DECIMAL(28,12))) AS inr
  FROM e JOIN r{p} r ON e.src = r.node JOIN wdeg o ON r.node = o.node
  GROUP BY 1),
d{i} AS MATERIALIZED (
  SELECT coalesce(sum(CAST(round("rank", 12) AS DECIMAL(28,12))),
                  CAST(0 AS DECIMAL(28,12))) AS dm
  FROM r{p} WHERE node NOT IN (SELECT node FROM wdeg)),
r{i} AS MATERIALIZED (
  SELECT r.node,
         round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                 / CAST(n AS DOUBLE)
               + CAST(0.85 AS DOUBLE)
                 * coalesce(CAST(c.inr AS DOUBLE), CAST(0.0 AS DOUBLE))
               + CAST(0.85 AS DOUBLE) * CAST(d.dm AS DOUBLE)
                 / CAST(n AS DOUBLE), 6) AS "rank"
  FROM r{p} r LEFT JOIN c{i} c ON r.node = c.node
  CROSS JOIN d{i} d CROSS JOIN nn)"""

ORACLES["pagerank_engagement"] = f"""
WITH b AS MATERIALIZED (
  SELECT 'u' || CAST(user_id AS VARCHAR) AS u,
         't' || event_type AS t,
         CAST(count(*) AS BIGINT) AS w
  FROM events GROUP BY 1, 2),
e AS MATERIALIZED (
  SELECT u AS src, t AS dst, w FROM b
  UNION ALL
  SELECT t AS src, u AS dst, w FROM b),
wdeg AS MATERIALIZED (
  SELECT src AS node,
         CAST(sum(CAST(greatest(round(CAST(w AS DOUBLE), 6),
                                CAST(0.0 AS DOUBLE)) AS DECIMAL(18,6)))
              AS DOUBLE) AS outw
  FROM e GROUP BY 1
  HAVING CAST(sum(CAST(greatest(round(CAST(w AS DOUBLE), 6),
                                CAST(0.0 AS DOUBLE)) AS DECIMAL(18,6)))
              AS DOUBLE) > 0),
nodes AS MATERIALIZED (
  SELECT DISTINCT src AS node FROM e
  UNION
  SELECT DISTINCT dst AS node FROM e),
nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
r0 AS MATERIALIZED (
  SELECT node, CAST(1.0 AS DOUBLE) / CAST(n AS DOUBLE) AS "rank"
  FROM nodes CROSS JOIN nn),
{_PR_W_ITER.format(i=1, p=0)},
{_PR_W_ITER.format(i=2, p=1)}
SELECT node, "rank" FROM r2
"""

# ---- round 6: S1 reader-dispatch round-trip twins --------------------------
# The Spark side writes supplier/orders through write_data(csv|json) and
# reads them back via read_data with a declared schema; the oracle reads the
# parquet source directly — a hash match proves the sink/source pair is
# LOSSLESS, putting the io/readers.py dispatch branches inside the
# correctness gate instead of unit tests only (VERDICT r05 item 7).

ORACLES["csv_roundtrip_parity"] = """
SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(sum(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_acctbal,
       min(s_name) AS first_name
FROM supplier
GROUP BY 1
"""

ORACLES["json_roundtrip_parity"] = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
       o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY 1, 2
"""

# ---- round 7: HITS, containment near-dup, Unicode-script profile ----------

# One HITS half-step: sum 12-dp-quantized scores over edges joined on
# {join}, grouped on {agg}, L2-normalized with 4-dp-quantized squares
# (4 dp, not 12 — raw sums reach ~1e5+, and a 12-dp squared sum would
# cross the >=17-significant-digit decimal->double band; mirrors
# graph.hits exactly, including the per-half-step round(...,6)).
def _hits_half(out: str, src_tbl: str, join: str, agg: str) -> str:
    return f"""{out}raw AS MATERIALIZED (
  SELECT e.{agg} AS node,
         CAST(sum(CAST(round(s.score, 12) AS DECIMAL(28,12))) AS DOUBLE) AS raw
  FROM e JOIN {src_tbl} s ON e.{join} = s.node
  GROUP BY 1),
{out}n AS MATERIALIZED (
  SELECT sqrt(CAST(coalesce(sum(CAST(round(raw * raw, 4) AS DECIMAL(28,4))),
                            CAST(0 AS DECIMAL(28,4))) AS DOUBLE)) AS nrm
  FROM {out}raw),
{out} AS MATERIALIZED (
  SELECT node,
         CASE WHEN nrm > 0 THEN round(raw / nrm, 6)
              ELSE CAST(0.0 AS DOUBLE) END AS score
  FROM {out}raw CROSS JOIN {out}n)"""


ORACLES["hits_supply_graph"] = f"""
WITH e AS MATERIALIZED (
  SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                  'p' || CAST(l_partkey AS VARCHAR) AS dst
  FROM lineitem),
nodes AS MATERIALIZED (
  SELECT DISTINCT src AS node FROM e
  UNION
  SELECT DISTINCT dst AS node FROM e),
h0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE) AS score FROM nodes),
{_hits_half("a1", "h0", "src", "dst")},
{_hits_half("h1", "a1", "dst", "src")},
{_hits_half("a2", "h1", "src", "dst")},
{_hits_half("h2", "a2", "dst", "src")}
SELECT n.node,
       coalesce(h.score, CAST(0.0 AS DOUBLE)) AS hub,
       coalesce(a.score, CAST(0.0 AS DOUBLE)) AS authority
FROM nodes n
LEFT JOIN h2 h ON n.node = h.node
LEFT JOIN a2 a ON n.node = a.node
"""

# Asymmetric containment |A∩B| / min(|A|,|B|) over the same inverted-
# index shape AND language blocking as ngram_jaccard, mirroring
# dedup.ngram_containment_pairs(block_col="lang") — the blocking is the
# hot-shingle fan-out bound on BOTH engines.
ORACLES["containment_pairs"] = f"""
WITH t AS (SELECT doc_id, lang, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, lang, {SHINGLES} AS sh FROM t),
ex AS (SELECT doc_id, lang, len(sh) AS sz, unnest(sh) AS g FROM s),
co AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
    count(*) AS inter
  FROM ex a JOIN ex b
    ON a.lang = b.lang AND a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
  round(CAST(inter AS DOUBLE) / CAST(least(sz_a, sz_b) AS DOUBLE), 6)
    AS containment
FROM co
WHERE round(CAST(inter AS DOUBLE) / CAST(least(sz_a, sz_b) AS DOUBLE), 6)
      >= 0.6
"""

# Unicode-script mix via the length-difference trick over plain ranges
# (identical semantics in RE2 and Java regex), mirroring
# text.script_profile including the SCRIPT_RANGES tie-break order.
_SCRIPT_COUNTS = """
    length(text) AS n_chars,
    length(text) - length(regexp_replace(text, '[A-Za-zÀ-ɏ]', '', 'g')) AS latin,
    length(text) - length(regexp_replace(text, '[Ѐ-ӿ]', '', 'g')) AS cyrillic,
    length(text) - length(regexp_replace(text, '[Ͱ-Ͽ]', '', 'g')) AS greek,
    length(text) - length(regexp_replace(text, '[؀-ۿ]', '', 'g')) AS arabic,
    length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) AS cjk,
    length(text) - length(regexp_replace(text, '[가-힯]', '', 'g')) AS hangul,
    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digit
"""

ORACLES["script_mix"] = f"""
WITH c AS (
  SELECT doc_id,
{_SCRIPT_COUNTS}
  FROM documents),
g AS (
  SELECT *, greatest(latin, cyrillic, greek, arabic, cjk, hangul) AS mx,
         latin + cyrillic + greek + arabic + cjk + hangul AS letters
  FROM c)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CAST(n_chars AS BIGINT) AS n_chars,
  CAST(latin AS BIGINT) AS latin,
  CAST(cyrillic AS BIGINT) AS cyrillic,
  CAST(greek AS BIGINT) AS greek,
  CAST(arabic AS BIGINT) AS arabic,
  CAST(cjk AS BIGINT) AS cjk,
  CAST(hangul AS BIGINT) AS hangul,
  CAST(digit AS BIGINT) AS digit,
  CASE WHEN mx = 0 THEN 'none'
       WHEN latin = mx THEN 'latin'
       WHEN cyrillic = mx THEN 'cyrillic'
       WHEN greek = mx THEN 'greek'
       WHEN arabic = mx THEN 'arabic'
       WHEN cjk = mx THEN 'cjk'
       ELSE 'hangul' END AS dominant_script,
  CASE WHEN letters > 0
       THEN round(CAST(latin AS DOUBLE) / CAST(letters AS DOUBLE), 6)
       ELSE CAST(0.0 AS DOUBLE) END AS latin_ratio
FROM g
"""


# Part-affinity triangles: mirrors graph.triangle_counts — degree-ordered
# orientation under the TOTAL order (degree, node), each triangle
# materialized exactly once as a→b, b→c, a→c.
ORACLES["triangle_count"] = """
WITH lp AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'),
und AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM lp a JOIN lp b ON a.k = b.k AND a.p < b.p),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree
  FROM (SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
  GROUP BY 1),
o AS MATERIALIZED (
  SELECT CASE WHEN (du.degree, e.u) < (dv.degree, e.v) THEN e.u ELSE e.v END AS src,
         CASE WHEN (du.degree, e.u) < (dv.degree, e.v) THEN e.v ELSE e.u END AS dst
  FROM und e
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v),
tri AS (
  SELECT w.a, w.b, w.c
  FROM (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM o e1 JOIN o e2 ON e1.dst = e2.src) w
  JOIN o e3 ON e3.src = w.a AND e3.dst = w.c),
pern AS (
  SELECT node, CAST(count(*) AS BIGINT) AS triangles
  FROM (SELECT a AS node FROM tri
        UNION ALL SELECT b AS node FROM tri
        UNION ALL SELECT c AS node FROM tri)
  GROUP BY 1)
SELECT CAST(d.node AS BIGINT) AS node,
  d.degree,
  coalesce(p.triangles, 0) AS triangles,
  CASE WHEN d.degree >= 2
       THEN round(2.0 * CAST(coalesce(p.triangles, 0) AS DOUBLE)
                  / CAST(d.degree * (d.degree - 1) AS DOUBLE), 6)
       ELSE CAST(0.0 AS DOUBLE) END AS clustering
FROM deg d LEFT JOIN pern p ON d.node = p.node
"""

# Reciprocal-rank fusion of the BM25 lexical top-50 (same CTE chain as
# bm25_retrieval) and the dense cosine top-50 (same fold as
# embedding_topk, query vec 0) — mirroring similarity.rrf_fuse: per-list
# reciprocal contributions rounded to 6 dp, summed as DECIMAL(18,6),
# emitted as integer micro-score.
ORACLES["rrf_fusion"] = f"""
WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
tft AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tk) GROUP BY 1, 2),
dl AS (SELECT doc_id, len(toks) AS dl FROM tk),
st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       FROM dl),
dfreq AS (SELECT term, count(*) AS df FROM tft GROUP BY 1),
q AS (SELECT DISTINCT unnest(toks) AS term FROM tk WHERE doc_id = 0),
contrib AS (
  SELECT t.doc_id,
    CAST(round(
      ln((CAST(st.n_docs AS DOUBLE) - fr.df + 0.5) / (fr.df + 0.5) + 1.0)
      * ((CAST(t.tf AS DOUBLE) * 2.2)
         / (CAST(t.tf AS DOUBLE)
            + 1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE) / st.avgdl))),
      6) AS DECIMAL(18,6)) AS c
  FROM tft t
  JOIN q USING (term)
  JOIN dfreq fr USING (term)
  JOIN dl d ON d.doc_id = t.doc_id
  CROSS JOIN st),
lexs AS (
  SELECT doc_id, CAST(sum(c) * 1000000 AS BIGINT) AS score_micro
  FROM contrib WHERE doc_id <> 0 GROUP BY doc_id),
lex AS (
  SELECT doc_id, CAST(rn AS INT) AS rank
  FROM (SELECT doc_id, row_number() OVER (
          ORDER BY score_micro DESC, doc_id) AS rn FROM lexs)
  WHERE rn <= 50),
q0 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
dscore AS (
  SELECT c.vec_id AS doc_id,
    round(CASE WHEN sqrt({_dot('qv', 'qv')}) * sqrt({_dot('cv', 'cv')}) > 0
          THEN {_dot('qv', 'cv')}
               / (sqrt({_dot('qv', 'qv')}) * sqrt({_dot('cv', 'cv')}))
          ELSE 0.0 END, 6) AS cosine
  FROM (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id <> 0) c
  CROSS JOIN q0),
dense AS (
  SELECT doc_id, CAST(rn AS INT) AS rank
  FROM (SELECT doc_id, row_number() OVER (
          ORDER BY cosine DESC, doc_id) AS rn FROM dscore)
  WHERE rn <= 50),
u AS (SELECT doc_id, 'lex' AS l, rank FROM lex
      UNION ALL SELECT doc_id, 'dense' AS l, rank FROM dense),
f AS (
  SELECT doc_id,
    coalesce(max(CASE WHEN l = 'lex' THEN rank END), 0) AS lex_rank,
    coalesce(max(CASE WHEN l = 'dense' THEN rank END), 0) AS dense_rank,
    CAST(sum(CAST(round(1.0 / (60.0 + CAST(rank AS DOUBLE)), 6)
                  AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS rrf_micro
  FROM u GROUP BY doc_id)
SELECT CAST(doc_id AS BIGINT) AS doc_id, lex_rank, dense_rank, rrf_micro,
       fused_rank
FROM (SELECT *, CAST(row_number() OVER (
        ORDER BY rrf_micro DESC, doc_id) AS INT) AS fused_rank FROM f)
WHERE fused_rank <= 10
"""

# Per-source Jensen-Shannon divergence from the corpus distribution,
# mirroring text.js_divergence_by_group: out-of-vocabulary corpus mass
# folds into the closed form ½·ln2·(1 − Q_g) — each in-vocabulary term
# carries its −½·q·ln2 share, the ½·ln2 constant joins once at the end.
ORACLES["js_divergence_sources"] = f"""
WITH tf AS (
  SELECT grp, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT source AS grp, unnest({TOKS}) AS term FROM documents)
  GROUP BY 1, 2),
corpus AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ctf FROM tf GROUP BY 1),
gt AS (SELECT grp, CAST(sum(tf) AS BIGINT) AS n_g FROM tf GROUP BY 1),
nt AS (SELECT CAST(sum(tf) AS BIGINT) AS n_all FROM tf),
c AS (
  SELECT t.grp, g.n_g,
    CAST(round(0.5 * (
      (CAST(t.tf AS DOUBLE) / CAST(g.n_g AS DOUBLE))
        * ln(2.0 * (CAST(t.tf AS DOUBLE) / CAST(g.n_g AS DOUBLE))
             / ((CAST(t.tf AS DOUBLE) / CAST(g.n_g AS DOUBLE))
                + (CAST(cr.ctf AS DOUBLE) / CAST(n.n_all AS DOUBLE))))
      + (CAST(cr.ctf AS DOUBLE) / CAST(n.n_all AS DOUBLE))
        * ln(2.0 * (CAST(cr.ctf AS DOUBLE) / CAST(n.n_all AS DOUBLE))
             / ((CAST(t.tf AS DOUBLE) / CAST(g.n_g AS DOUBLE))
                + (CAST(cr.ctf AS DOUBLE) / CAST(n.n_all AS DOUBLE))))
      - (CAST(cr.ctf AS DOUBLE) / CAST(n.n_all AS DOUBLE)) * ln(2.0)
    ), 6) AS DECIMAL(18,6)) AS c
  FROM tf t
  JOIN corpus cr USING (term)
  JOIN gt g USING (grp)
  CROSS JOIN nt n)
SELECT grp AS source,
  CAST(max(n_g) AS BIGINT) AS n_tokens,
  CAST(count(*) AS BIGINT) AS n_terms,
  CAST(sum(c) * 1000000 AS BIGINT)
    + CAST(CAST(round(0.5 * ln(2.0), 6) AS DECIMAL(18,6)) * 1000000
           AS BIGINT) AS jsd_micro
FROM c GROUP BY grp
"""

# Trailing-7-day rolling median of exact-decimal daily totals — the
# RANGE frame is value-based on the integer day index, so gaps shrink
# the frame on both engines identically.
ORACLES["rolling_median_7d"] = """
WITH daily AS (
  SELECT event_type,
    CAST(date_trunc('day', ts) AS DATE) AS day,
    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
      AS daily_value,
    date_diff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS DATE))
      AS day_num
  FROM events GROUP BY 1, 2, 4)
SELECT event_type, day, daily_value,
  round(median(daily_value) OVER (PARTITION BY event_type ORDER BY day_num
    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS med_7d
FROM daily
"""

# Group-aware purged temporal split audit, mirroring
# sampling.embargoed_group_split: md5 group holdout (hash_fraction, salt
# 'embargo'), integer-microsecond boundary arithmetic, 3-day embargo;
# held-out history and training users' test-period rows are purged.
_EMBARGO_HELD = (
    _hex_to_long("md5('embargo' || '|' || CAST(user_id AS VARCHAR))", 8)
    + " / 4294967296.0 < 0.2"
)

ORACLES["embargo_split"] = f"""
WITH b AS (
  SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx FROM events),
t AS (
  -- CAST(0.8 AS DOUBLE) is the nearest-double of the decimal literal;
  -- the operator quantizes its factor with round(1.0 - test_frac, 6)
  -- (sampling.py) so both engines floor() the identical product
  -- (ADVICE r07 ulp note).
  SELECT e.user_id, e.ts, epoch_us(e.ts) AS us,
    b.mn + CAST(floor(CAST(b.mx - b.mn AS DOUBLE) * CAST(0.8 AS DOUBLE))
                AS BIGINT) AS t_star,
    {_EMBARGO_HELD} AS held
  FROM events e CROSS JOIN b),
lab AS (
  SELECT user_id, ts,
    CASE WHEN held AND us >= t_star THEN 'test'
         WHEN us >= t_star - 259200000000 AND us < t_star THEN 'embargo'
         WHEN NOT held AND us < t_star - 259200000000 THEN 'train'
         ELSE 'purged' END AS split
  FROM t)
SELECT split,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
  min(ts) AS first_ts,
  max(ts) AS last_ts
FROM lab GROUP BY 1
"""


# Personalized PageRank over the symmetric part<->supplier graph:
# teleport vector s is uniform over the seed set (partkey < 20) and 0
# elsewhere; dangling mass teleports to the seeds too. Mirrors
# graph.personalized_pagerank — same decimal quantization as _PR_ITER,
# blend (1-d)*s + d*in + d*D*s.
_PPR_ITER = """
c{i} AS MATERIALIZED (
  SELECT e.dst AS node,
         sum(CAST(round(r."rank" / CAST(o.outdeg AS DOUBLE), 12)
                  AS DECIMAL(28,12))) AS inr
  FROM e JOIN r{p} r ON e.src = r.node JOIN deg o ON r.node = o.node
  GROUP BY 1),
d{i} AS MATERIALIZED (
  SELECT coalesce(sum(CAST(round("rank", 12) AS DECIMAL(28,12))),
                  CAST(0 AS DECIMAL(28,12))) AS dm
  FROM r{p} WHERE node NOT IN (SELECT node FROM deg)),
r{i} AS MATERIALIZED (
  SELECT r.node, r.s,
         round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * r.s
               + CAST(0.85 AS DOUBLE)
                 * coalesce(CAST(c.inr AS DOUBLE), CAST(0.0 AS DOUBLE))
               + CAST(0.85 AS DOUBLE) * CAST(d.dm AS DOUBLE) * r.s,
               6) AS "rank"
  FROM r{p} r LEFT JOIN c{i} c ON r.node = c.node
  CROSS JOIN d{i} d)"""

ORACLES["ppr_seed_expansion"] = f"""
WITH b AS MATERIALIZED (
  SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS p,
                  's' || CAST(l_suppkey AS VARCHAR) AS s
  FROM lineitem),
e AS MATERIALIZED (
  SELECT p AS src, s AS dst FROM b
  UNION ALL
  SELECT s AS src, p AS dst FROM b),
deg AS MATERIALIZED (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
  FROM e GROUP BY 1),
nodes AS MATERIALIZED (
  SELECT DISTINCT src AS node FROM e
  UNION
  SELECT DISTINCT dst AS node FROM e),
seeds AS MATERIALIZED (
  SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS node
  FROM lineitem WHERE l_partkey < 20),
k AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS k FROM seeds),
r0 AS MATERIALIZED (
  SELECT n.node,
    CASE WHEN s.node IS NOT NULL
         THEN CAST(1.0 AS DOUBLE) / CAST(k.k AS DOUBLE)
         ELSE CAST(0.0 AS DOUBLE) END AS s,
    CASE WHEN s.node IS NOT NULL
         THEN CAST(1.0 AS DOUBLE) / CAST(k.k AS DOUBLE)
         ELSE CAST(0.0 AS DOUBLE) END AS "rank"
  FROM nodes n LEFT JOIN seeds s ON n.node = s.node CROSS JOIN k),
{_PPR_ITER.format(i=1, p=0)},
{_PPR_ITER.format(i=2, p=1)}
SELECT node, "rank" FROM r2
"""

# Per-supplier butterfly counts over the bipartite supplier<->part
# graph, mirroring graph.butterfly_counts: one per-part pair expansion
# (fan-out C(suppliers_per_part, 2)) + one keyed co-count; butterflies
# per pair = co*(co-1)//2, integer-exact.
ORACLES["butterfly_count"] = """
WITH e AS MATERIALIZED (
  SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
deg AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
  FROM e GROUP BY 1),
co AS MATERIALIZED (
  SELECT a.src AS u, b.src AS v, CAST(count(*) AS BIGINT) AS co
  FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
  GROUP BY 1, 2),
pern AS (
  SELECT node,
    CAST(count(*) AS BIGINT) AS copartners,
    CAST(sum((co * (co - 1)) // 2) AS BIGINT) AS butterflies
  FROM (SELECT u AS node, co FROM co
        UNION ALL SELECT v AS node, co FROM co)
  GROUP BY 1)
SELECT CAST(d.node AS BIGINT) AS supplier,
  d.degree,
  coalesce(p.copartners, 0) AS copartners,
  coalesce(p.butterflies, 0) AS butterflies
FROM deg d LEFT JOIN pern p ON d.node = p.node
"""

# Degree histogram + Pearson degree-degree assortativity of the
# part-affinity graph, mirroring graph.degree_assortativity: integer
# moment sums over edges counted in both directions; the log2 bucket is
# the EXPLICIT ln ratio (matching Spark's change-of-base log2 — a
# native log2 would floor differently at exact powers of two).
ORACLES["graph_degree_stats"] = """
WITH lp AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'),
und AS MATERIALIZED (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM lp a JOIN lp b ON a.k = b.k AND a.p < b.p),
deg AS MATERIALIZED (
  SELECT node, CAST(count(*) AS BIGINT) AS degree
  FROM (SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
  GROUP BY 1),
hist AS (
  SELECT CAST(floor(ln(CAST(degree AS DOUBLE)) / ln(CAST(2.0 AS DOUBLE)))
              AS BIGINT) AS bucket_log2,
         CAST(count(*) AS BIGINT) AS n_nodes
  FROM deg GROUP BY 1),
pairs AS (
  SELECT du.degree AS x, dv.degree AS y
  FROM und e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
  UNION ALL
  SELECT dv.degree AS x, du.degree AS y
  FROM und e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sx2
  FROM pairs),
r AS (
  SELECT CASE WHEN (CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE)
                    - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) > 0
    THEN round((CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
                - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
               / (CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))), 6)
    ELSE CAST(0.0 AS DOUBLE) END AS assortativity
  FROM m)
SELECT h.bucket_log2, h.n_nodes, r.assortativity
FROM hist h CROSS JOIN r
"""


# Affinity-graph CTE prefix shared by the round-8 graph oracles —
# identical to the triangle_count scan (1995-1997 shipping window).
_AFF = """lp AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'),
und AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM lp a JOIN lp b ON a.k = b.k AND a.p < b.p)"""

# 14-core by peeling, unrolled to exactly max_rounds=5 — the operator's
# cap is the contract (result = graph after min(fixpoint, 5) peels), and
# peel monotonicity makes any post-fixpoint unrolled round a no-op, so
# the unroll replays graph.kcore(k=14, max_rounds=5) bit-for-bit.
# MATERIALIZED is load-bearing: each e/low references its predecessor
# 2-3 times, so DuckDB's default CTE inlining would expand the 5-round
# chain exponentially (observed as a hang); materializing makes each
# round run once, like the operator.
_kc = [f"WITH {_AFF},\ne0 AS MATERIALIZED (SELECT u, v FROM und)"]
for _i in range(5):
    _kc.append(f""",
low{_i} AS MATERIALIZED (
  SELECT node FROM (SELECT u AS node FROM e{_i} UNION ALL SELECT v FROM e{_i})
  GROUP BY 1 HAVING count(*) < 14),
e{_i + 1} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{_i} e
  LEFT JOIN low{_i} lu ON lu.node = e.u
  LEFT JOIN low{_i} lv ON lv.node = e.v
  WHERE lu.node IS NULL AND lv.node IS NULL)""")
_kc.append("""
SELECT CAST(node AS BIGINT) AS node,
  CAST(count(*) AS BIGINT) AS core_degree
FROM (SELECT u AS node FROM e5 UNION ALL SELECT v AS node FROM e5)
GROUP BY 1
""")
ORACLES["kcore_nodes"] = "".join(_kc)

# Synchronous label propagation, unrolled to exactly iterations=4 —
# mirrors graph.lpa_communities: every node starts as its own label,
# each round takes the most frequent neighbor label, ties to the
# SMALLEST label (row_number ordered cnt DESC, label ASC replays the
# operator's max(struct(cnt, -label)) arg-max).
_lpa = [
    f"""WITH {_AFF},
adj AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM und
  UNION ALL SELECT v AS src, u AS dst FROM und),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM adj)"""
]
for _i in range(1, 5):
    _lpa.append(f""",
c{_i} AS (
  SELECT a.dst AS node, l.label, count(*) AS cnt
  FROM adj a JOIN l{_i - 1} l ON l.node = a.src
  GROUP BY 1, 2),
l{_i} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
      row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
    FROM c{_i})
  WHERE rn = 1)""")
_lpa.append("""
SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS community
FROM l4
""")
ORACLES["lpa_communities"] = "".join(_lpa)

# Exact-substring span dedup: stride-1 8-token windows fingerprinted
# corpus-wide (md5 of the joined window text, same bytes both engines),
# first occurrence ordered by (doc_id, start) wins, every token covered
# by a later occurrence is removed — mirrors chunking.exact_substring_
# dedup(window_size=8). Docs shorter than the window emit no windows
# (range(0, n-7) is empty) and survive verbatim; a fully-duplicated doc
# survives as an empty text_clean via the LEFT JOIN + coalesce.
ORACLES["exact_substring_dedup"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS tk FROM documents),
w0 AS (
  SELECT doc_id, tk, unnest(range(0, len(tk) - 7)) AS s
  FROM toks WHERE len(tk) >= 8),
wins AS (
  SELECT doc_id, CAST(s AS INT) AS start,
    md5(array_to_string(tk[CAST(s AS INT) + 1 : CAST(s AS INT) + 8], ' ')) AS fp
  FROM w0),
rm AS (
  SELECT doc_id, start FROM (
    SELECT doc_id, start,
      row_number() OVER (PARTITION BY fp ORDER BY doc_id, start) AS rn
    FROM wins)
  WHERE rn > 1),
t0 AS (
  SELECT doc_id, tk, unnest(range(0, len(tk))) AS i0
  FROM toks WHERE len(tk) > 0),
tok AS (SELECT doc_id, CAST(i0 AS INT) AS i, tk[CAST(i0 AS INT) + 1] AS t FROM t0),
kept AS (
  SELECT tk.doc_id, tk.i, tk.t
  FROM tok tk
  WHERE NOT EXISTS (
    SELECT 1 FROM rm
    WHERE rm.doc_id = tk.doc_id AND rm.start <= tk.i AND tk.i < rm.start + 8)),
ka AS (
  SELECT doc_id,
    array_to_string(list(t ORDER BY i), ' ') AS text_clean,
    count(*) AS n_kept
  FROM kept GROUP BY 1)
SELECT CAST(tx.doc_id AS BIGINT) AS doc_id,
  coalesce(ka.text_clean, '') AS text_clean,
  CAST(len(tx.tk) AS BIGINT) AS n_tokens_total,
  CAST(len(tx.tk) - coalesce(ka.n_kept, 0) AS BIGINT) AS n_tokens_removed
FROM toks tx LEFT JOIN ka ON ka.doc_id = tx.doc_id
"""


# Per-round edge-support block for the 4-truss unroll: same degree-
# ordered orientation as the triangle_count oracle, each triangle
# crediting its three canonical edges. MATERIALIZED everywhere for the
# same reason as the kcore unroll (each round is referenced 2-3 times).
def _truss_round(src: str, dst: str) -> str:
    return f""",
deg_{dst} AS MATERIALIZED (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM {src} UNION ALL SELECT v AS node FROM {src})
  GROUP BY 1),
o_{dst} AS MATERIALIZED (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst
  FROM {src} e
  JOIN deg_{dst} du ON du.node = e.u
  JOIN deg_{dst} dv ON dv.node = e.v),
tri_{dst} AS MATERIALIZED (
  SELECT w.a, w.b, w.c
  FROM (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM o_{dst} e1 JOIN o_{dst} e2 ON e1.dst = e2.src) w
  JOIN o_{dst} e3 ON e3.src = w.a AND e3.dst = w.c),
sup_{dst} AS MATERIALIZED (
  SELECT least(x, y) AS u, greatest(x, y) AS v, count(*) AS s
  FROM (SELECT a AS x, b AS y FROM tri_{dst}
        UNION ALL SELECT b AS x, c AS y FROM tri_{dst}
        UNION ALL SELECT a AS x, c AS y FROM tri_{dst})
  GROUP BY 1, 2),
{dst} AS MATERIALIZED (
  SELECT e.u, e.v
  FROM {src} e JOIN sup_{dst} s ON s.u = e.u AND s.v = e.v
  WHERE s.s >= 2)"""


_kt = [f"WITH {_AFF},\ne0 AS MATERIALIZED (SELECT u, v FROM und)"]
for _i in range(3):
    _kt.append(_truss_round(f"e{_i}", f"e{_i + 1}"))
# final support count over the surviving edge set (support 0 kept via
# LEFT JOIN — mirrors graph.edge_support's closing left join)
_kt.append(_truss_round("e3", "efin").rsplit(",\nefin AS MATERIALIZED", 1)[0])
_kt.append("""
SELECT CAST(e.u AS BIGINT) AS u, CAST(e.v AS BIGINT) AS v,
  CAST(coalesce(s.s, 0) AS BIGINT) AS support
FROM e3 e LEFT JOIN sup_efin s ON s.u = e.u AND s.v = e.v
""")
ORACLES["ktruss_edges"] = "".join(_kt)

# Adamic-Adar top-50 — mirrors graph.adamic_adar: wedges by center,
# per-center contribution round(1/ln(deg), 6) summed as DECIMAL(18,6)
# (order-independent), integer micro-score, total order.
ORACLES["link_prediction_aa"] = f"""
WITH {_AFF},
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
  GROUP BY 1),
centers AS (
  SELECT node AS w,
    CAST(round(1.0 / ln(CAST(d AS DOUBLE)), 6) AS DECIMAL(18,6)) AS contrib
  FROM deg WHERE d >= 2),
adj AS MATERIALIZED (
  SELECT u AS w, v AS n FROM und UNION ALL SELECT v AS w, u AS n FROM und),
wedge AS (
  SELECT a.w, a.n AS a, b.n AS b
  FROM adj a JOIN adj b ON a.w = b.w AND a.n < b.n),
pairs AS (
  SELECT wd.a AS u, wd.b AS v,
    CAST(count(*) AS BIGINT) AS common_neighbors,
    sum(c.contrib) AS aa_dec
  FROM wedge wd JOIN centers c ON c.w = wd.w
  GROUP BY 1, 2),
cand AS (
  SELECT p.* FROM pairs p
  LEFT JOIN und e ON e.u = p.u AND e.v = p.v
  WHERE e.u IS NULL)
SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v, common_neighbors,
  CAST(round(CAST(aa_dec AS DOUBLE) * 1e6) AS BIGINT) AS aa_micro
FROM cand
ORDER BY aa_micro DESC, u ASC, v ASC
LIMIT 50
"""

# Per-doc 8-gram novelty — mirrors chunking.ngram_novelty(window=8,
# stride=1): DISTINCT (doc, fp) windows, first occurrence = min(doc_id)
# per fingerprint, short/empty docs report (0, 0, 1.0).
ORACLES["ngram_novelty"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS tk FROM documents),
w0 AS (
  SELECT doc_id, tk, unnest(range(0, len(tk) - 7)) AS s
  FROM toks WHERE len(tk) >= 8),
wins AS (
  SELECT DISTINCT doc_id,
    md5(array_to_string(tk[CAST(s AS INT) + 1 : CAST(s AS INT) + 8], ' ')) AS fp
  FROM w0),
first AS (SELECT fp, min(doc_id) AS f FROM wins GROUP BY 1),
pd AS (
  SELECT w.doc_id,
    CAST(count(*) AS BIGINT) AS n_windows,
    CAST(SUM(CASE WHEN w.doc_id = f.f THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM wins w JOIN first f ON f.fp = w.fp
  GROUP BY 1)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
  CAST(coalesce(pd.n_windows, 0) AS BIGINT) AS n_windows,
  CAST(coalesce(pd.n_novel, 0) AS BIGINT) AS n_novel,
  CASE WHEN coalesce(pd.n_windows, 0) > 0
       THEN round(CAST(pd.n_novel AS DOUBLE) / CAST(pd.n_windows AS DOUBLE), 6)
       ELSE CAST(1.0 AS DOUBLE) END AS novelty_ratio
FROM toks t LEFT JOIN pd ON pd.doc_id = t.doc_id
"""


# Multi-source BFS, unrolled to exactly max_hops=3 — mirrors
# graph.bfs_distances from the node % 97 == 0 seed set: each round folds
# frontier neighbors into the visited set with a min(dist). MATERIALIZED
# per round (the kcore unroll lesson).
_bfs = [
    f"""WITH {_AFF},
adj AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM und
  UNION ALL SELECT v AS src, u AS dst FROM und),
d0 AS MATERIALIZED (
  SELECT DISTINCT src AS node, 0 AS dist FROM adj WHERE src % 97 = 0)"""
]
for _i in range(1, 4):
    _bfs.append(f""",
d{_i} AS MATERIALIZED (
  SELECT node, CAST(min(dist) AS INT) AS dist FROM (
    SELECT node, dist FROM d{_i - 1}
    UNION ALL
    SELECT a.dst AS node, {_i} AS dist
    FROM adj a JOIN d{_i - 1} f ON f.node = a.src AND f.dist = {_i - 1})
  GROUP BY 1)""")
_bfs.append("""
SELECT CAST(node AS BIGINT) AS node, CAST(dist AS INT) AS dist FROM d3
""")
ORACLES["bfs_reach_3hop"] = "".join(_bfs)


# C4-style boilerplate removal — mirrors chunking.boilerplate_segments
# (block_size=3, min_docs=3): non-overlapping 3-token blocks, document
# frequency ≥ 3 removes EVERY occurrence (first included); documents
# survive as rows even when fully boilerplate.
ORACLES["boilerplate_removal"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS tk FROM documents),
blk0 AS (
  SELECT doc_id, tk, unnest(range(0, len(tk), 3)) AS s
  FROM toks WHERE len(tk) > 0),
blk AS (
  SELECT doc_id, CAST(s // 3 AS INT) AS block_idx,
         array_to_string(tk[s + 1 : s + 3], ' ') AS chunk_text
  FROM blk0),
flagged AS (
  SELECT chunk_text FROM blk GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3),
kept AS (
  SELECT b.doc_id, b.block_idx, b.chunk_text
  FROM blk b ANTI JOIN flagged f ON f.chunk_text = b.chunk_text),
ka AS (
  SELECT doc_id,
    array_to_string(list(chunk_text ORDER BY block_idx), ' ') AS text_clean,
    count(*) AS n_kept
  FROM kept GROUP BY 1),
tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_total FROM blk GROUP BY 1)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
  coalesce(ka.text_clean, '') AS text_clean,
  t.n_total AS n_blocks_total,
  CAST(t.n_total - coalesce(ka.n_kept, 0) AS BIGINT) AS n_blocks_removed
FROM tot t LEFT JOIN ka ON ka.doc_id = t.doc_id
"""

# Per-source MinHash Jaccard matrix — mirrors dedup.group_minhash_similarity
# (n=3, num_hashes=32): a source's signature component i is the min of
# (a_i·h(shingle)+b_i) mod p over ALL its shingles (per-doc distinctness is
# irrelevant under min), so the oracle skips the per-doc signature and
# min-folds per (source, component) directly — same value, one agg.
_SRC_MH_AFFINE = "\n    UNION ALL ".join(
    f"SELECT source, {_i} AS pos, ({a} * v + {b}) % {_MINHASH_P} AS av FROM vals"
    for _i, (a, b) in enumerate(_minhash_coeffs(32))
)
ORACLES["source_minhash_matrix"] = f"""
WITH t AS (SELECT source, {TOKS} AS toks FROM documents),
sh0 AS (SELECT source, unnest({SHINGLES}) AS sh FROM t),
vals AS (
  SELECT source, {_hex_to_long("md5(sh)", 8)} % {_MINHASH_P} AS v FROM sh0),
affine AS (
  SELECT source, pos, av FROM (
    {_SRC_MH_AFFINE}
  )),
comp AS (
  SELECT source, pos, min(av) AS mv FROM affine GROUP BY 1, 2)
SELECT a.source AS grp_a, b.source AS grp_b,
  CAST(sum(CASE WHEN a.mv = b.mv THEN 1 ELSE 0 END) AS BIGINT) AS n_equal,
  round(CAST(sum(CASE WHEN a.mv = b.mv THEN 1 ELSE 0 END) AS DOUBLE) / 32.0, 6)
    AS jaccard_est
FROM comp a JOIN comp b ON a.pos = b.pos AND a.source < b.source
GROUP BY 1, 2
"""

# Deterministic random walks — mirrors graph.random_walks(walk_len=3,
# seed='walk'): next hop from cur at step t is the neighbor minimizing
# md5('walk|t|cur|nbr'); unrolled to 3 argmin rounds (row_number replays
# Spark's min(struct(h, dst)) — h is an md5 hex string on both engines,
# compared lexicographically, ties broken by dst).
_RW = [
    f"""WITH {_AFF},
adj AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM und
  UNION ALL SELECT v AS src, u AS dst FROM und),
w0 AS MATERIALIZED (SELECT DISTINCT src AS start, src AS node FROM adj)"""
]
for _i in range(1, 4):
    _RW.append(f""",
w{_i} AS MATERIALIZED (
  SELECT start, dst AS node FROM (
    SELECT f.start, a.dst,
      row_number() OVER (
        PARTITION BY f.start
        ORDER BY md5('walk|{_i}|' || CAST(f.node AS VARCHAR) || '|'
                     || CAST(a.dst AS VARCHAR)), a.dst) AS rn
    FROM w{_i - 1} f JOIN adj a ON a.src = f.node)
  WHERE rn = 1)""")
_RW.append("""
SELECT CAST(start AS BIGINT) AS start, CAST(s.step AS INT) AS step,
       CAST(node AS BIGINT) AS node
FROM (
  SELECT start, 0 AS step, node FROM w0
  UNION ALL SELECT start, 1, node FROM w1
  UNION ALL SELECT start, 2, node FROM w2
  UNION ALL SELECT start, 3, node FROM w3) s
""")
ORACLES["random_walk_hops"] = "".join(_RW)

# Per-source token budget — mirrors sampling.token_budget(target=10^6,
# sqrt_passes=1): temperature weights over TOKEN mass with the
# temperature_mixture numeric contract (sqrt-only α, DECIMAL(28,12) mass
# quantization before the normalizing sum, outputs rounded to 6).
ORACLES["token_budget_plan"] = f"""
WITH counts AS (
  SELECT source AS domain, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(len({TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
t AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS total FROM counts),
m AS (
  SELECT domain, n_docs, n_tokens,
    CAST(sqrt(CAST(n_tokens AS DOUBLE) / total) AS DECIMAL(28,12)) AS mass
  FROM counts CROSS JOIN t),
z AS (SELECT sum(mass) AS zz FROM m)
SELECT domain, n_docs, n_tokens,
  round(CAST(mass AS DOUBLE) / CAST(zz AS DOUBLE), 6) AS q_temp,
  CAST(floor(1000000.0 * (CAST(mass AS DOUBLE) / CAST(zz AS DOUBLE))) AS BIGINT)
    AS alloc_tokens,
  round(CAST(floor(1000000.0 * (CAST(mass AS DOUBLE) / CAST(zz AS DOUBLE)))
             AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS epochs
FROM m CROSS JOIN z
"""


# Jaccard link prediction — mirrors graph.neighbor_jaccard(top_n=50):
# wedge-by-center pair enumeration, endpoint degrees joined back,
# jac = common / (du + dv - common) rounded to 6 then micro-scaled,
# non-adjacent pairs only, (jac_micro DESC, u, v) total order.
ORACLES["link_prediction_jaccard"] = f"""
WITH {_AFF},
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
  GROUP BY 1),
adj AS MATERIALIZED (
  SELECT u AS w, v AS n FROM und UNION ALL SELECT v AS w, u AS n FROM und),
wedge AS (
  SELECT a.w, a.n AS a, b.n AS b
  FROM adj a JOIN adj b ON a.w = b.w AND a.n < b.n),
pairs AS (
  SELECT wd.a AS u, wd.b AS v, CAST(count(*) AS BIGINT) AS common_neighbors
  FROM wedge wd GROUP BY 1, 2),
cand AS (
  SELECT p.* FROM pairs p
  LEFT JOIN und e ON e.u = p.u AND e.v = p.v
  WHERE e.u IS NULL)
SELECT CAST(c.u AS BIGINT) AS u, CAST(c.v AS BIGINT) AS v, c.common_neighbors,
  CAST(round(round(CAST(c.common_neighbors AS DOUBLE)
        / CAST(du.d + dv.d - c.common_neighbors AS DOUBLE), 6) * 1e6)
    AS BIGINT) AS jac_micro
FROM cand c JOIN deg du ON du.node = c.u JOIN deg dv ON dv.node = c.v
ORDER BY jac_micro DESC, u ASC, v ASC
LIMIT 50
"""

# v4 curation pipeline — boilerplate removal (block_size=3, min_docs=3)
# -> >= 8 clean tokens gate -> token budget (target 500k, alpha=0.5) over
# text_clean; per-source audit with raw counts left-joined so sources
# wiped out by the gate still report (n_gated=0, zeros elsewhere).
ORACLES["training_pipeline_v4"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS tk FROM documents),
blk0 AS (
  SELECT doc_id, tk, unnest(range(0, len(tk), 3)) AS s
  FROM toks WHERE len(tk) > 0),
blk AS (
  SELECT doc_id, CAST(s // 3 AS INT) AS block_idx,
         array_to_string(tk[s + 1 : s + 3], ' ') AS chunk_text
  FROM blk0),
flagged AS (
  SELECT chunk_text FROM blk GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3),
kept AS (
  SELECT b.doc_id, b.block_idx, b.chunk_text
  FROM blk b ANTI JOIN flagged f ON f.chunk_text = b.chunk_text),
ka AS (
  SELECT doc_id,
    array_to_string(list(chunk_text ORDER BY block_idx), ' ') AS text_clean
  FROM kept GROUP BY 1),
clean AS (
  SELECT t.doc_id, coalesce(ka.text_clean, '') AS text_clean
  FROM toks t LEFT JOIN ka ON ka.doc_id = t.doc_id),
gated AS (
  SELECT d.source, c.text_clean
  FROM clean c JOIN documents d ON d.doc_id = c.doc_id
  WHERE len(list_filter(string_split(lower(c.text_clean), ' '), x -> x <> '')) >= 8),
counts AS (
  SELECT source AS domain, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(len(list_filter(string_split(lower(text_clean), ' '), x -> x <> '')))
      AS BIGINT) AS n_tokens
  FROM gated GROUP BY 1),
t AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS total FROM counts),
m AS (
  SELECT domain, n_docs, n_tokens,
    CAST(sqrt(CAST(n_tokens AS DOUBLE) / total) AS DECIMAL(28,12)) AS mass
  FROM counts CROSS JOIN t),
z AS (SELECT sum(mass) AS zz FROM m),
budget AS (
  SELECT domain, n_docs, n_tokens,
    round(CAST(mass AS DOUBLE) / CAST(zz AS DOUBLE), 6) AS q_temp,
    CAST(floor(500000.0 * (CAST(mass AS DOUBLE) / CAST(zz AS DOUBLE))) AS BIGINT)
      AS alloc_tokens
  FROM m CROSS JOIN z),
raw AS (
  SELECT source AS domain, CAST(count(*) AS BIGINT) AS n_raw
  FROM documents GROUP BY 1)
SELECT r.domain, r.n_raw,
  coalesce(b.n_docs, 0) AS n_gated,
  coalesce(b.n_tokens, 0) AS n_tokens,
  coalesce(b.q_temp, 0.0) AS q_temp,
  coalesce(b.alloc_tokens, 0) AS alloc_tokens,
  coalesce(round(CAST(b.alloc_tokens AS DOUBLE) / CAST(b.n_tokens AS DOUBLE), 6),
           0.0) AS epochs
FROM raw r LEFT JOIN budget b ON b.domain = r.domain
"""


# Landmark harmonic centrality — mirrors graph.landmark_harmonic
# (max_hops=3, landmarks = node % 97 == 0): per-landmark BFS distances
# unrolled 3 rounds with (lm, node)-keyed min folds (the bfs_reach_3hop
# unroll, with the landmark kept in the key because harmonic centrality
# sums per-landmark reciprocals). Contributions are integer micro-units
# 1_000_000 // d, so the sum is exact; the self-pair (dist 0) is excluded.
_harm = [
    f"""WITH {_AFF},
adj AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM und
  UNION ALL SELECT v AS src, u AS dst FROM und),
h0 AS MATERIALIZED (
  SELECT DISTINCT src AS lm, src AS node, 0 AS dist FROM adj
  WHERE src % 97 = 0)"""
]
for _i in range(1, 4):
    _harm.append(f""",
h{_i} AS MATERIALIZED (
  SELECT lm, node, CAST(min(dist) AS INT) AS dist FROM (
    SELECT lm, node, dist FROM h{_i - 1}
    UNION ALL
    SELECT f.lm, a.dst AS node, {_i} AS dist
    FROM adj a JOIN h{_i - 1} f ON f.node = a.src AND f.dist = {_i - 1})
  GROUP BY 1, 2)""")
_harm.append("""
SELECT CAST(node AS BIGINT) AS node,
  CAST(count(*) AS BIGINT) AS n_landmarks,
  CAST(sum(1000000 // dist) AS BIGINT) AS harmonic_micro
FROM h3 WHERE dist >= 1 GROUP BY 1
""")
ORACLES["harmonic_centrality"] = "".join(_harm)


# Theil-Sen robust trend — mirrors relational.theil_sen_slope over
# monthly nation revenue: exact-cents monthly sums, every t1 < t2 pair's
# slope in BIGINT milli-units by truncating division (Spark div == DuckDB
# // toward zero), then the two-middle-sum median (2*median of integers
# is exact — the 10x tier exposed a round-half tie in the float version).
ORACLES["theil_sen_trend"] = """
WITH monthly AS (
  SELECT n.n_name,
    (CAST(year(o_orderdate) AS BIGINT) - 1995) * 12
      + CAST(month(o_orderdate) AS BIGINT) - 1 AS t,
    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      AS rev_cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2),
pairs AS (
  SELECT a.n_name,
    (1000 * (b.rev_cents - a.rev_cents)) // (b.t - a.t) AS s
  FROM monthly a JOIN monthly b
    ON a.n_name = b.n_name AND a.t < b.t),
np AS (
  SELECT n_name, CAST(count(*) AS BIGINT) AS n_points
  FROM monthly GROUP BY 1)
SELECT np.n_name, np.n_points,
  CAST(2 * median(p.s) AS BIGINT) AS sen_milli_x2
FROM np JOIN pairs p ON p.n_name = np.n_name
GROUP BY 1, 2
"""


# CUSUM changepoint — mirrors relational.cusum_changepoint over daily
# event value mass: argmax_t |n*S_t - t*S_n| per event type (the
# cumulative-deviation statistic multiplied through by n — pure BIGINT,
# no float in the decision), earliest day wins ties.
ORACLES["cusum_changepoint"] = """
WITH daily AS (
  SELECT event_type AS key, CAST(ts AS DATE) AS day,
    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS v
  FROM events GROUP BY 1, 2),
cum AS (
  SELECT key, day,
    CAST(sum(v) OVER (PARTITION BY key ORDER BY day) AS BIGINT) AS s_t,
    CAST(row_number() OVER (PARTITION BY key ORDER BY day) AS BIGINT) AS t,
    CAST(sum(v) OVER (PARTITION BY key) AS BIGINT) AS s_n,
    CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS n_days
  FROM daily)
SELECT key AS event_type, n_days, CAST(day AS TIMESTAMP) AS cp_day,
  CAST(abs(n_days * s_t - t * s_n) AS BIGINT) AS cusum_stat
FROM cum
QUALIFY row_number() OVER (
  PARTITION BY key
  ORDER BY abs(n_days * s_t - t * s_n) DESC, day ASC) = 1
"""


# 3-criteria skyline — mirrors skyline.skyline over Brand#7 parts:
# Pareto-dominance NOT EXISTS (d >= on every max dim, <= on every min
# dim, strictly better somewhere). Dims are exact cents/centi-units
# from DECIMAL sums, so dominance is exact integer comparison.
ORACLES["skyline_parts"] = """
WITH dims AS (
  SELECT l.l_partkey AS p_partkey,
    CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      AS revenue_cents,
    CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT)
      AS qty_x100,
    CAST(max(CAST(p.p_retailprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      AS price_cents
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#7'
  GROUP BY 1)
SELECT CAST(p_partkey AS BIGINT) AS p_partkey,
  revenue_cents, qty_x100, price_cents
FROM dims q
WHERE NOT EXISTS (
  SELECT 1 FROM dims d
  WHERE d.revenue_cents >= q.revenue_cents
    AND d.qty_x100 >= q.qty_x100
    AND d.price_cents <= q.price_cents
    AND (d.revenue_cents > q.revenue_cents
      OR d.qty_x100 > q.qty_x100
      OR d.price_cents < q.price_cents))
"""


# Rolling median + MAD control chart — mirrors relational.
# rolling_mad_anomaly (preceding=6, k=3): trailing RANGE frame as a
# sorted list, med_x2 = two-middle sum (2x scale), per-value deviations
# |2x - med_x2|, mad_x4 = two-middle sum of sorted deviations (4x
# scale); flag 2*|2x - med_x2| > 3*mad_x4 — pure BIGINT on both engines.
ORACLES["rolling_mad_anomaly"] = """
WITH daily AS (
  SELECT event_type AS key,
    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS INT)
      AS day_idx,
    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS v_cents
  FROM events GROUP BY 1, 2),
fr AS (
  SELECT key, day_idx, v_cents,
    list_sort(list(v_cents) OVER (
      PARTITION BY key ORDER BY day_idx
      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
  FROM daily),
m AS (
  SELECT key, day_idx, v_cents,
    arr[CAST((len(arr) - 1) // 2 AS INT) + 1]
      + arr[CAST(len(arr) // 2 AS INT) + 1] AS med_x2,
    arr
  FROM fr),
d AS (
  SELECT key, day_idx, v_cents, med_x2,
    list_sort(list_transform(arr, x -> abs(2 * x - med_x2))) AS dev
  FROM m)
SELECT key AS event_type, day_idx, v_cents,
  CAST(med_x2 AS BIGINT) AS med_x2,
  CAST(dev[CAST((len(dev) - 1) // 2 AS INT) + 1]
    + dev[CAST(len(dev) // 2 AS INT) + 1] AS BIGINT) AS mad_x4,
  (2 * abs(2 * v_cents - med_x2))
    > (3 * (dev[CAST((len(dev) - 1) // 2 AS INT) + 1]
          + dev[CAST(len(dev) // 2 AS INT) + 1])) AS is_anomaly
FROM d
"""


# Per-source token entropy — mirrors text.token_entropy_by_group: each
# token's p*log2(p) term rounded to 9 dp and summed as DECIMAL (order-
# independent), entropy = -sum rounded 6, normalized by log2(vocab).
ORACLES["source_token_entropy"] = f"""
WITH tok AS (
  SELECT source AS grp, unnest({TOKS}) AS token FROM documents),
gt AS (
  SELECT grp, token, CAST(count(*) AS BIGINT) AS cnt
  FROM tok GROUP BY 1, 2),
tot AS (
  SELECT grp, CAST(sum(cnt) AS BIGINT) AS total,
    CAST(count(*) AS BIGINT) AS vocab_size
  FROM gt GROUP BY 1),
terms AS (
  SELECT g.grp,
    CAST(round((CAST(g.cnt AS DOUBLE) / CAST(t.total AS DOUBLE))
      * log2(CAST(g.cnt AS DOUBLE) / CAST(t.total AS DOUBLE)), 9)
      AS DECIMAL(28,12)) AS term
  FROM gt g JOIN tot t ON t.grp = g.grp),
h AS (
  SELECT grp, round(-CAST(sum(term) AS DOUBLE), 6) AS entropy
  FROM terms GROUP BY 1)
SELECT t.grp AS source, t.total AS n_tokens, t.vocab_size,
  h.entropy,
  CASE WHEN t.vocab_size > 1
    THEN round(h.entropy / log2(CAST(t.vocab_size AS DOUBLE)), 6)
    ELSE 0.0 END AS norm_entropy
FROM tot t JOIN h ON h.grp = t.grp
"""


# Day-of-week seasonal Tukey fences — mirrors relational.
# dow_seasonal_outliers (k=1.5): per (type, weekday) exact interpolating
# quartiles over integer cents (dyadic rationals — exact in DOUBLE), one
# exact 1.5*IQR product, no rounding needed. DuckDB dayofweek is
# 0=Sunday; Spark's is 1=Sunday — hence the +1.
ORACLES["dow_outlier_days"] = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS v_cents
  FROM events GROUP BY 1, 2),
dowed AS (
  SELECT event_type, day, v_cents,
    CAST(dayofweek(day) + 1 AS INT) AS dow
  FROM daily),
fences AS (
  SELECT event_type, dow,
    quantile_cont(v_cents, 0.25) AS q1,
    quantile_cont(v_cents, 0.5) AS med,
    quantile_cont(v_cents, 0.75) AS q3
  FROM dowed GROUP BY 1, 2)
SELECT d.event_type, CAST(d.day AS TIMESTAMP) AS day, d.dow, d.v_cents,
  f.q1, f.med, f.q3,
  (CAST(d.v_cents AS DOUBLE) > f.q3 + 1.5 * (f.q3 - f.q1))
    OR (CAST(d.v_cents AS DOUBLE) < f.q1 - 1.5 * (f.q3 - f.q1))
    AS is_outlier
FROM dowed d
JOIN fences f ON f.event_type = d.event_type AND f.dow = d.dow
"""


# Hilbert-curve layout key — mirrors hashing.with_hilbert_key(bits=10): the
# xy->d rotate-and-fold walk unrolled one CTE per level. Reflection is
# over the FULL grid side n-1 (coordinates still carry high bits at
# lower levels); quadrant = CASE(rx) (3-ry | ry), the Gray-code index.
def _hilbert_cte(bits: int = 10) -> str:
    n = 1 << bits
    parts = []
    prev = "hbase"
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        rx = f"(CAST(floor(x / {s}) AS BIGINT) % 2)"
        ry = f"(CAST(floor(y / {s}) AS BIGINT) % 2)"
        parts.append(f""",
hl{i} AS MATERIALIZED (
  SELECT event_id, x0, y0,
    CASE WHEN {ry} = 0 AND {rx} = 1 THEN {n - 1} - y
         WHEN {ry} = 0 THEN y ELSE x END AS x,
    CASE WHEN {ry} = 0 AND {rx} = 1 THEN {n - 1} - x
         WHEN {ry} = 0 THEN x ELSE y END AS y,
    d + {s * s} * (CASE WHEN {rx} = 1 THEN 3 - {ry} ELSE {ry} END) AS d
  FROM {prev})""")
        prev = f"hl{i}"
    return "".join(parts)


ORACLES["hilbert_layout"] = f"""
WITH hbase AS (
  SELECT event_id,
    CAST(user_id % 1024 AS BIGINT) AS x0,
    greatest(least(CAST(floor(value) AS BIGINT), 1023), 0) AS y0,
    CAST(user_id % 1024 AS BIGINT) AS x,
    greatest(least(CAST(floor(value) AS BIGINT), 1023), 0) AS y,
    CAST(0 AS BIGINT) AS d
  FROM events WHERE event_id < 2000){_hilbert_cte(10)}
SELECT event_id, x0 AS x, y0 AS y, CAST(d AS BIGINT) AS hkey FROM hl0
"""


# Salton cosine link prediction — mirrors graph.salton_cosine(top_n=50):
# the neighbor_jaccard wedge plan with cos = common / sqrt(du*dv)
# (exact integers into one correctly-rounded IEEE sqrt + division,
# rounded to 6 then micro-scaled), non-adjacent pairs only.
ORACLES["link_prediction_salton"] = f"""
WITH {_AFF},
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
  GROUP BY 1),
adj AS MATERIALIZED (
  SELECT u AS w, v AS n FROM und UNION ALL SELECT v AS w, u AS n FROM und),
wedge AS (
  SELECT a.w, a.n AS a, b.n AS b
  FROM adj a JOIN adj b ON a.w = b.w AND a.n < b.n),
pairs AS (
  SELECT wd.a AS u, wd.b AS v, CAST(count(*) AS BIGINT) AS common_neighbors
  FROM wedge wd GROUP BY 1, 2),
cand AS (
  SELECT p.* FROM pairs p
  LEFT JOIN und e ON e.u = p.u AND e.v = p.v
  WHERE e.u IS NULL)
SELECT CAST(c.u AS BIGINT) AS u, CAST(c.v AS BIGINT) AS v, c.common_neighbors,
  CAST(round(round(CAST(c.common_neighbors AS DOUBLE)
        / sqrt(CAST(du.d * dv.d AS DOUBLE)), 6) * 1e6)
    AS BIGINT) AS cos_micro
FROM cand c JOIN deg du ON du.node = c.u JOIN deg dv ON dv.node = c.v
ORDER BY cos_micro DESC, u ASC, v ASC
LIMIT 50
"""


# Near-dup threshold sensitivity — mirrors dedup.threshold_sensitivity
# (thresholds 0.5/0.7/0.9, language-blocked, n=3): ONE inverted-index
# jaccard pass (the ngram_jaccard oracle), then per threshold a
# recursive-CTE transitive closure and a 3-number summary.
_TS_PAIRS = f"""t AS (SELECT doc_id, lang, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, lang, {SHINGLES} AS sh FROM t),
ex AS (SELECT doc_id, lang, len(sh) AS sz, unnest(sh) AS g FROM s),
co AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
    count(*) AS inter
  FROM ex a JOIN ex b ON a.lang = b.lang AND a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4),
pairs AS MATERIALIZED (
  SELECT id_a, id_b,
    round(CAST(inter AS DOUBLE) / CAST(sz_a + sz_b - inter AS DOUBLE), 6)
      AS jac
  FROM co
  WHERE round(CAST(inter AS DOUBLE) / CAST(sz_a + sz_b - inter AS DOUBLE), 6)
    >= 0.5)"""

_ts_blocks = []
for _t in ("0.5", "0.7", "0.9"):
    _tag = _t.replace(".", "")
    _ts_blocks.append(f""",
und{_tag} AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs WHERE jac >= {_t}
  UNION SELECT id_b, id_a FROM pairs WHERE jac >= {_t}),
reach{_tag}(src, dst) AS (
  SELECT src, dst FROM und{_tag}
  UNION
  SELECT r.src, u.dst FROM reach{_tag} r JOIN und{_tag} u ON r.dst = u.src),
comp{_tag} AS (
  SELECT src AS id, least(src, MIN(dst)) AS c FROM reach{_tag} GROUP BY src),
stats{_tag} AS (
  SELECT CAST({_t} AS DOUBLE) AS threshold,
    CAST(count(*) AS BIGINT) AS n_docs_in_pairs,
    CAST(count(DISTINCT c) AS BIGINT) AS n_clusters,
    CAST(count(*) - count(DISTINCT c) AS BIGINT) AS n_dups_removed
  FROM comp{_tag})""")

ORACLES["dedup_threshold_sweep"] = (
    "WITH RECURSIVE "
    + _TS_PAIRS
    + "".join(_ts_blocks)
    + """
SELECT * FROM stats05
UNION ALL SELECT * FROM stats07
UNION ALL SELECT * FROM stats09
"""
)


# Min-plus cheapest paths — mirrors graph.cheapest_paths(max_hops=3)
# over the weighted affinity graph (w = 1_000_000 // co_count, seeds
# node % 97 == 0): unrolled Bellman-Ford rounds, each one relax + one
# min fold — relaxing already-settled nodes is a no-op, so the full-set
# unroll equals the operator's frontier-only iteration exactly.
_cp = [
    """WITH lp AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'),
undw AS (
  SELECT a.p AS u, b.p AS v, 1000000 // count(*) AS w
  FROM lp a JOIN lp b ON a.k = b.k AND a.p < b.p
  GROUP BY 1, 2),
adj AS MATERIALIZED (
  SELECT u AS src, v AS dst, w FROM undw
  UNION ALL SELECT v AS src, u AS dst, w FROM undw),
c0 AS MATERIALIZED (
  SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS cost FROM adj
  WHERE src % 97 = 0)"""
]
for _i in range(1, 4):
    _cp.append(f""",
c{_i} AS MATERIALIZED (
  SELECT node, min(cost) AS cost FROM (
    SELECT node, cost FROM c{_i - 1}
    UNION ALL
    SELECT a.dst AS node, f.cost + a.w AS cost
    FROM adj a JOIN c{_i - 1} f ON f.node = a.src)
  GROUP BY 1)""")
_cp.append("""
SELECT CAST(node AS BIGINT) AS node, CAST(cost AS BIGINT) AS cost FROM c3
""")
ORACLES["cheapest_route_3hop"] = "".join(_cp)


# Gaps-and-islands longest streaks — mirrors relational.longest_streaks
# over per-user active days: day - row_number() is constant within a
# run of consecutive days; earliest streak wins length ties.
ORACLES["activity_streaks"] = """
WITH daily AS (
  SELECT DISTINCT user_id,
    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
      AS day
  FROM events),
isl AS (
  SELECT user_id, day,
    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS g
  FROM daily),
runs AS (
  SELECT user_id, g, CAST(count(*) AS BIGINT) AS len,
    CAST(min(day) AS BIGINT) AS start
  FROM isl GROUP BY 1, 2),
runs2 AS (
  SELECT *, max(len) OVER (PARTITION BY user_id) AS mx FROM runs)
SELECT user_id,
  CAST(sum(len) AS BIGINT) AS n_active_days,
  CAST(count(*) AS BIGINT) AS n_streaks,
  CAST(max(len) AS BIGINT) AS longest_streak,
  CAST(min(start) FILTER (len = mx) AS BIGINT) AS longest_streak_start
FROM runs2 GROUP BY user_id
"""


# Functional-dependency violation profile — mirrors dq.engine.
# fd_violations over orders: per A->B one keyed count-distinct, then a
# dependency-cardinality summary.
_fd_blocks = []
for _a, _b in (
    ("o_orderkey", "o_custkey"),
    ("o_custkey", "o_orderpriority"),
    ("o_orderpriority", "o_orderstatus"),
):
    _fd_blocks.append(f"""
SELECT '{_a}' AS determinant, '{_b}' AS dependent,
  CAST(count(*) AS BIGINT) AS n_keys,
  CAST(sum(CASE WHEN imgs > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_violating_keys,
  CAST(max(imgs) AS BIGINT) AS max_images
FROM (SELECT {_a}, count(DISTINCT {_b}) AS imgs FROM orders GROUP BY 1)""")
ORACLES["fd_check"] = "\nUNION ALL\n".join(_fd_blocks)


# Spearman rank correlation — mirrors relational.spearman_corr: Pearson
# on DOUBLED average ranks R2 = 2*rank + cnt_eq - 1 (pure BIGINT; the
# tie-correct textbook form), cross-moment sums as HUGEINT (Spark:
# DECIMAL(38,0)), one fixed double shape rounded to 6.
ORACLES["spearman_qty_price"] = """
WITH r AS (
  SELECT l_returnflag AS g,
    2 * CAST(rank() OVER (PARTITION BY l_returnflag
                          ORDER BY l_quantity) AS BIGINT)
      + CAST(count(*) OVER (PARTITION BY l_returnflag, l_quantity)
             AS BIGINT) - 1 AS r2x,
    2 * CAST(rank() OVER (PARTITION BY l_returnflag
                          ORDER BY l_extendedprice) AS BIGINT)
      + CAST(count(*) OVER (PARTITION BY l_returnflag, l_extendedprice)
             AS BIGINT) - 1 AS r2y
  FROM lineitem),
m AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(r2x) AS BIGINT) AS sx,
    CAST(sum(r2y) AS BIGINT) AS sy,
    sum(CAST(r2x AS HUGEINT) * r2y) AS sxy,
    sum(CAST(r2x AS HUGEINT) * r2x) AS sxx,
    sum(CAST(r2y AS HUGEINT) * r2y) AS syy
  FROM r GROUP BY g),
d AS (
  SELECT g, n,
    sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS den,
    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num
  FROM m)
SELECT g AS l_returnflag, n,
  CASE WHEN den > 0 THEN round(num / den, 6) ELSE 0.0 END AS spearman_rho
FROM d
"""


# Mann-Kendall trend test — mirrors relational.mann_kendall over the
# SAME monthly (nation, month, cents) series as theil_sen_trend:
# S = sum of pairwise signs, tie-corrected var18 (x18 scale, pure
# BIGINT), continuity-corrected z as one double shape rounded to 6.
ORACLES["mann_kendall_nation_trend"] = """
WITH monthly AS (
  SELECT n.n_name,
    (CAST(year(o_orderdate) AS BIGINT) - 1995) * 12
      + CAST(month(o_orderdate) AS BIGINT) - 1 AS t,
    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      AS rev_cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2),
s AS (
  SELECT a.n_name,
    CAST(sum(CASE WHEN b.rev_cents > a.rev_cents THEN 1
                  WHEN b.rev_cents < a.rev_cents THEN -1
                  ELSE 0 END) AS BIGINT) AS s_stat
  FROM monthly a JOIN monthly b
    ON a.n_name = b.n_name AND a.t < b.t
  GROUP BY 1),
ties AS (
  SELECT n_name, rev_cents, CAST(count(*) AS BIGINT) AS tc
  FROM monthly GROUP BY 1, 2),
tt AS (
  SELECT n_name,
    CAST(sum(tc) AS BIGINT) AS n_points,
    CAST(sum(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS tie18
  FROM ties GROUP BY 1),
j AS (
  -- LEFT join + coalesce mirrors relational.mann_kendall: a
  -- single-point key has no i<j pair, so s has no row for it —
  -- it must still surface as s_stat=0 / var18=0 / 'flat'.
  SELECT tt.n_name, n_points,
    CAST(coalesce(s_stat, 0) AS BIGINT) AS s_stat,
    CAST(n_points * (n_points - 1) * (2 * n_points + 5) - tie18
         AS BIGINT) AS var18
  FROM tt LEFT JOIN s ON s.n_name = tt.n_name)
SELECT n_name, n_points, s_stat, var18,
  round(CASE
    WHEN var18 > 0 AND s_stat > 0
      THEN (CAST(s_stat AS DOUBLE) - 1.0)
           / sqrt(CAST(var18 AS DOUBLE) / 18.0)
    WHEN var18 > 0 AND s_stat < 0
      THEN (CAST(s_stat AS DOUBLE) + 1.0)
           / sqrt(CAST(var18 AS DOUBLE) / 18.0)
    ELSE 0.0 END, 6) AS mk_z,
  CASE WHEN s_stat > 0 THEN 'increasing'
       WHEN s_stat < 0 THEN 'decreasing'
       ELSE 'flat' END AS trend
FROM j
"""


# Welch's t-test — mirrors relational.welch_ttest on documents.n_chars
# per source pair: exact integer moments (squares as HUGEINT / Spark
# DECIMAL(38,0)), then the t / Satterthwaite-df double shapes rounded
# to 6; significant = |t| > 1.96 on the UNROUNDED t.
ORACLES["welch_ttest_sources"] = """
WITH m AS (
  SELECT source AS g, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS s1,
    sum(CAST(n_chars AS HUGEINT) * n_chars) AS s2
  FROM documents GROUP BY 1),
p AS (
  SELECT a.g AS ga, b.g AS gb,
    a.n AS na, b.n AS nb,
    CAST(a.s1 AS DOUBLE) / CAST(a.n AS DOUBLE) AS ma,
    CAST(b.s1 AS DOUBLE) / CAST(b.n AS DOUBLE) AS mb,
    (CAST(a.s2 AS DOUBLE)
      - CAST(a.s1 AS DOUBLE) * CAST(a.s1 AS DOUBLE) / CAST(a.n AS DOUBLE))
      / (CAST(a.n AS DOUBLE) - 1.0) AS va,
    (CAST(b.s2 AS DOUBLE)
      - CAST(b.s1 AS DOUBLE) * CAST(b.s1 AS DOUBLE) / CAST(b.n AS DOUBLE))
      / (CAST(b.n AS DOUBLE) - 1.0) AS vb
  FROM m a JOIN m b ON a.g < b.g
  WHERE a.n >= 2 AND b.n >= 2),
e AS (
  SELECT ga, gb, na, nb, ma, mb,
    va / CAST(na AS DOUBLE) AS sea,
    vb / CAST(nb AS DOUBLE) AS seb
  FROM p),
t AS (
  SELECT ga, gb, na, nb, ma, mb, sea, seb, sea + seb AS se2,
    CASE WHEN sea + seb > 0
      THEN (ma - mb) / sqrt(sea + seb) ELSE 0.0 END AS tstat
  FROM e)
SELECT ga AS source_a, gb AS source_b, na AS n_a, nb AS n_b,
  round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
  round(tstat, 6) AS t_stat,
  round(CASE WHEN se2 > 0
    THEN (se2 * se2)
         / (sea * sea / (CAST(na AS DOUBLE) - 1.0)
            + seb * seb / (CAST(nb AS DOUBLE) - 1.0))
    ELSE 0.0 END, 6) AS welch_df,
  abs(tstat) > 1.96 AS significant
FROM t
"""


# Gini concentration — mirrors relational.gini_coefficient: lifetime
# revenue cents per ordering customer, (value, custkey) deterministic
# ascending rank within nation, G = 2*sum(r*x)/(n*sum x) - (n+1)/n as
# one double shape rounded to 6 (sum(r*x) as HUGEINT / DECIMAL(38,0)).
ORACLES["gini_revenue_by_nation"] = """
WITH per_cust AS (
  SELECT o_custkey,
    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
  FROM orders GROUP BY 1),
j AS (
  SELECT n.n_name, p.x, c.c_custkey
  FROM per_cust p
  JOIN customer c ON c.c_custkey = p.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey),
r AS (
  SELECT n_name, x,
    CAST(row_number() OVER (PARTITION BY n_name
                            ORDER BY x, c_custkey) AS BIGINT) AS rk
  FROM j),
m AS (
  SELECT n_name, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(x) AS BIGINT) AS total_value,
    sum(CAST(rk AS HUGEINT) * x) AS srx
  FROM r GROUP BY 1)
SELECT n_name, n, total_value,
  CASE WHEN total_value > 0 AND n > 1
    THEN round(2.0 * CAST(srx AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(total_value AS DOUBLE))
               - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6)
    ELSE 0.0 END AS gini
FROM m
"""


# Contingency chi-square + Cramer's V — mirrors
# relational.contingency_chi2 over the FULL margin grid (absent cells
# contribute expected mass): per-cell contributions quantized to exact
# BIGINT micro-units by truncating HUGEINT division BEFORE the total,
# so chi2_micro is order-free; only V is a double shape rounded to 6.
ORACLES["contingency_priority_status"] = """
WITH cells AS (
  SELECT o_orderpriority AS a, o_orderstatus AS b,
    CAST(count(*) AS BIGINT) AS observed
  FROM orders GROUP BY 1, 2),
ma AS (SELECT a, CAST(sum(observed) AS BIGINT) AS n_a FROM cells GROUP BY 1),
mb AS (SELECT b, CAST(sum(observed) AS BIGINT) AS n_b FROM cells GROUP BY 1),
tot AS (
  SELECT CAST(sum(observed) AS BIGINT) AS n,
    CAST(count(DISTINCT a) AS BIGINT) AS r_cats,
    CAST(count(DISTINCT b) AS BIGINT) AS c_cats
  FROM cells),
grid AS (
  SELECT ma.a, mb.b, ma.n_a, mb.n_b,
    COALESCE(c.observed, 0) AS observed
  FROM ma CROSS JOIN mb
  LEFT JOIN cells c ON c.a = ma.a AND c.b = mb.b),
st AS (
  SELECT g.*, t.n, t.r_cats, t.c_cats,
    CAST(g.observed AS HUGEINT) * t.n
      - CAST(g.n_a AS HUGEINT) * g.n_b AS num,
    CAST(t.n AS HUGEINT) * g.n_a * g.n_b AS den
  FROM grid g CROSS JOIN tot t),
c2 AS (
  SELECT a, b, observed, n, r_cats, c_cats,
    CAST((num * num * 1000000) // den AS BIGINT) AS contrib_micro
  FROM st),
t2 AS (
  SELECT *,
    CAST(sum(contrib_micro) OVER () AS BIGINT) AS chi2_micro,
    CAST((r_cats - 1) * (c_cats - 1) AS BIGINT) AS dof
  FROM c2)
SELECT a AS o_orderpriority, b AS o_orderstatus, observed, contrib_micro,
  chi2_micro,
  CASE WHEN dof > 0 AND n > 0
    THEN round(sqrt((CAST(chi2_micro AS DOUBLE) / 1000000.0)
               / (CAST(n AS DOUBLE)
                  * least(CAST(r_cats AS DOUBLE) - 1.0,
                          CAST(c_cats AS DOUBLE) - 1.0))), 6)
    ELSE 0.0 END AS cramers_v,
  dof
FROM t2
"""


# Deterministic 5-fold balance — mirrors sampling.kfold_assign
# (md5('kfold'|id) first-8-hex mod 5) rolled up fold x source.
ORACLES["kfold_balance"] = f"""
SELECT fold, source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars
FROM (
  SELECT source, n_chars,
    {_hex_to_long("md5('kfold' || '|' || CAST(doc_id AS VARCHAR))", 8)} % 5
      AS fold
  FROM documents)
GROUP BY 1, 2
"""


# Kendall tau-b from the joint histogram — mirrors
# relational.kendall_tau_binned: C/D/tie terms are exact BIGINT pair
# masses off the (x,y) cell table (the corpus is touched once), tau is
# the two-sqrt double shape rounded to 6.
ORACLES["kendall_tau_qty_discount"] = """
WITH cells AS (
  SELECT l_returnflag AS g, l_quantity AS x, l_discount AS y,
    CAST(count(*) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2, 3),
cd AS (
  SELECT a.g,
    CAST(sum(CASE WHEN a.y < b.y THEN a.w * b.w ELSE 0 END) AS BIGINT)
      AS concordant,
    CAST(sum(CASE WHEN a.y > b.y THEN a.w * b.w ELSE 0 END) AS BIGINT)
      AS discordant
  FROM cells a JOIN cells b ON a.g = b.g AND a.x < b.x
  GROUP BY 1),
tx AS (
  SELECT g, CAST(sum(t * (t - 1)) // 2 AS BIGINT) AS n1
  FROM (SELECT g, x, CAST(sum(w) AS BIGINT) AS t FROM cells GROUP BY 1, 2)
  GROUP BY 1),
ty AS (
  SELECT g, CAST(sum(t * (t - 1)) // 2 AS BIGINT) AS n2
  FROM (SELECT g, y, CAST(sum(w) AS BIGINT) AS t FROM cells GROUP BY 1, 2)
  GROUP BY 1),
tot AS (SELECT g, CAST(sum(w) AS BIGINT) AS n FROM cells GROUP BY 1),
j AS (
  SELECT tot.g, tot.n,
    COALESCE(cd.concordant, 0) AS concordant,
    COALESCE(cd.discordant, 0) AS discordant,
    CAST((tot.n * (tot.n - 1)) // 2 AS BIGINT) AS n0,
    tx.n1, ty.n2
  FROM tot
  LEFT JOIN cd ON cd.g = tot.g
  JOIN tx ON tx.g = tot.g
  JOIN ty ON ty.g = tot.g)
SELECT g AS l_returnflag, n, concordant, discordant,
  CASE WHEN sqrt(CAST(n0 - n1 AS DOUBLE)) * sqrt(CAST(n0 - n2 AS DOUBLE)) > 0
    THEN round(CAST(concordant - discordant AS DOUBLE)
               / (sqrt(CAST(n0 - n1 AS DOUBLE))
                  * sqrt(CAST(n0 - n2 AS DOUBLE))), 6)
    ELSE 0.0 END AS tau_b
FROM j
"""


# Inter-arrival profile — mirrors relational.interarrival_quantiles:
# integer-microsecond gaps off the (ts, event_id) deterministic order,
# lower empirical quantiles at pure-integer indexes, truncating-div
# mean. No float anywhere.
ORACLES["interarrival_profile"] = """
WITH gaps AS (
  SELECT event_type AS grp,
    epoch_us(ts) - lag(epoch_us(ts)) OVER (
      PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_us
  FROM events),
g2 AS (SELECT grp, CAST(gap_us AS BIGINT) AS gap_us FROM gaps
       WHERE gap_us IS NOT NULL),
ranked AS (
  SELECT grp, gap_us,
    CAST(row_number() OVER (PARTITION BY grp ORDER BY gap_us) AS BIGINT)
      AS r,
    CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS n
  FROM g2)
SELECT grp AS event_type,
  CAST(max(n) AS BIGINT) AS n_gaps,
  CAST(max(CASE WHEN r = (n - 1) // 2 + 1 THEN gap_us END) AS BIGINT)
    AS p50_gap_us,
  CAST(max(CASE WHEN r = ((n - 1) * 9) // 10 + 1 THEN gap_us END)
       AS BIGINT) AS p90_gap_us,
  CAST(sum(gap_us) // max(n) AS BIGINT) AS mean_gap_us
FROM ranked GROUP BY grp
"""


# Piecewise OLS at the CUSUM break — mirrors relational.trend_break_ols
# over daily event cents with an integer day index: the exact-BIGINT
# cusum argmax (earliest day wins ties), one conditional moment pass,
# and the fixed OLS double shape per segment rounded to 6.
ORACLES["trend_break_fit"] = """
WITH daily AS (
  SELECT event_type AS key,
    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
      AS x,
    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
cum AS (
  SELECT key, x, y,
    CAST(sum(y) OVER (PARTITION BY key ORDER BY x) AS BIGINT) AS s_t,
    CAST(row_number() OVER (PARTITION BY key ORDER BY x) AS BIGINT) AS t,
    CAST(sum(y) OVER (PARTITION BY key) AS BIGINT) AS s_n,
    CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS n_days
  FROM daily),
cp AS (
  SELECT key, x AS cp_day
  FROM (
    SELECT key, x,
      row_number() OVER (PARTITION BY key
        ORDER BY abs(n_days * s_t - t * s_n) DESC, x ASC) AS rr
    FROM cum) WHERE rr = 1),
seg AS (
  SELECT d.key, d.x, d.y, cp.cp_day, d.x <= cp.cp_day AS bef
  FROM daily d JOIN cp ON cp.key = d.key),
m AS (
  SELECT key, CAST(max(cp_day) AS BIGINT) AS cp_day,
    CAST(sum(CASE WHEN bef THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(sum(CASE WHEN bef THEN x ELSE 0 END) AS BIGINT) AS sx_b,
    CAST(sum(CASE WHEN bef THEN y ELSE 0 END) AS BIGINT) AS sy_b,
    CAST(sum(CASE WHEN bef THEN x * y ELSE 0 END) AS BIGINT) AS sxy_b,
    CAST(sum(CASE WHEN bef THEN x * x ELSE 0 END) AS BIGINT) AS sxx_b,
    CAST(sum(CASE WHEN NOT bef THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(sum(CASE WHEN NOT bef THEN x ELSE 0 END) AS BIGINT) AS sx_a,
    CAST(sum(CASE WHEN NOT bef THEN y ELSE 0 END) AS BIGINT) AS sy_a,
    CAST(sum(CASE WHEN NOT bef THEN x * y ELSE 0 END) AS BIGINT) AS sxy_a,
    CAST(sum(CASE WHEN NOT bef THEN x * x ELSE 0 END) AS BIGINT) AS sxx_a
  FROM seg GROUP BY key),
sl AS (
  SELECT key, cp_day, n_b, n_a,
    CASE WHEN n_b >= 2 AND CAST(n_b AS DOUBLE) * CAST(sxx_b AS DOUBLE)
           - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE) > 0
      THEN (CAST(n_b AS DOUBLE) * CAST(sxy_b AS DOUBLE)
            - CAST(sx_b AS DOUBLE) * CAST(sy_b AS DOUBLE))
           / (CAST(n_b AS DOUBLE) * CAST(sxx_b AS DOUBLE)
              - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE))
      ELSE 0.0 END AS sb,
    CASE WHEN n_a >= 2 AND CAST(n_a AS DOUBLE) * CAST(sxx_a AS DOUBLE)
           - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE) > 0
      THEN (CAST(n_a AS DOUBLE) * CAST(sxy_a AS DOUBLE)
            - CAST(sx_a AS DOUBLE) * CAST(sy_a AS DOUBLE))
           / (CAST(n_a AS DOUBLE) * CAST(sxx_a AS DOUBLE)
              - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE))
      ELSE 0.0 END AS sa
  FROM m)
SELECT key AS event_type, cp_day, n_b AS n_before, n_a AS n_after,
  round(sb, 6) AS slope_before,
  round(sa, 6) AS slope_after,
  round(sa - sb, 6) AS slope_delta
FROM sl
"""


# Simpson diversity — mirrors text.simpson_diversity: repeat rate
# micro-quantized by truncating HUGEINT division (exact), inverse
# Simpson N^2/sum(c^2) as one double shape rounded to 6.
ORACLES["simpson_diversity_sources"] = f"""
WITH tok AS (
  SELECT source AS grp, unnest({TOKS}) AS token FROM documents),
gt AS (
  SELECT grp, token, CAST(count(*) AS BIGINT) AS cnt
  FROM tok GROUP BY 1, 2),
m AS (
  SELECT grp, CAST(sum(cnt) AS BIGINT) AS n_tokens,
    CAST(count(*) AS BIGINT) AS vocab_size,
    sum(CAST(cnt AS HUGEINT) * (cnt - 1)) AS cc1,
    sum(CAST(cnt AS HUGEINT) * cnt) AS c2
  FROM gt GROUP BY 1)
SELECT grp AS source, n_tokens, vocab_size,
  CASE WHEN n_tokens > 1
    THEN CAST((cc1 * 1000000)
              // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1)) AS BIGINT)
    ELSE 0 END AS repeat_micro,
  CASE WHEN c2 > 0
    THEN round((CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))
               / CAST(c2 AS DOUBLE), 6)
    ELSE 0.0 END AS hill2_types
FROM m
"""


# Rich-club profile — mirrors graph.rich_club over the part-affinity
# graph: N_k / E_k by threshold from the shared degree table, phi the
# fixed double shape rounded to 6.
ORACLES["rich_club_parts"] = """
WITH lp AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'),
und AS MATERIALIZED (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM lp a JOIN lp b ON a.k = b.k AND a.p < b.p),
deg AS MATERIALIZED (
  SELECT node, CAST(count(*) AS BIGINT) AS degree
  FROM (SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
  GROUP BY 1),
ks AS (SELECT unnest([4, 8, 16, 32, 64]) AS k),
nk AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_rich_nodes
  FROM deg JOIN ks ON deg.degree > ks.k GROUP BY k),
ann AS (
  SELECT least(du.degree, dv.degree) AS mindeg
  FROM und e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
ek AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_rich_edges
  FROM ann JOIN ks ON ann.mindeg > ks.k GROUP BY k)
SELECT CAST(ks.k AS BIGINT) AS k,
  COALESCE(nk.n_rich_nodes, 0) AS n_rich_nodes,
  COALESCE(ek.n_rich_edges, 0) AS n_rich_edges,
  CASE WHEN COALESCE(nk.n_rich_nodes, 0) >= 2
    THEN round(2.0 * CAST(COALESCE(ek.n_rich_edges, 0) AS DOUBLE)
               / (CAST(nk.n_rich_nodes AS DOUBLE)
                  * (CAST(nk.n_rich_nodes AS DOUBLE) - 1.0)), 6)
    ELSE 0.0 END AS phi
FROM ks LEFT JOIN nk ON nk.k = ks.k LEFT JOIN ek ON ek.k = ks.k
"""


# Equi-depth range-partition plan — mirrors
# relational.range_partition_plan on orders.o_custkey into 8: boundary
# i = smallest key whose cumulative count reaches (i*n) div 8. Pure
# integer rank selection.
ORACLES["range_partition_audit"] = """
WITH keys AS (
  SELECT o_custkey AS key, CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1),
cum AS (
  SELECT key,
    CAST(sum(cnt) OVER (ORDER BY key
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
    CAST(sum(cnt) OVER () AS BIGINT) AS n
  FROM keys),
buckets AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS bucket),
targets AS (
  SELECT CAST(bucket AS BIGINT) AS bucket,
    CAST((bucket * (SELECT max(n) FROM cum)) // 8 AS BIGINT)
      AS target_rows
  FROM buckets),
hit AS (
  SELECT t.bucket, t.target_rows, c.key, c.cum
  FROM cum c JOIN targets t ON c.cum >= t.target_rows)
SELECT bucket, max(target_rows) AS target_rows,
  CAST(min(key) AS BIGINT) AS boundary_key,
  CAST(min(cum) AS BIGINT) AS rows_at_or_below
FROM hit GROUP BY bucket
"""


# Sweep-line peak concurrency — mirrors relational.peak_concurrency
# over daily user activity spans: +1/-1 deltas ordered (t ASC, delta
# DESC), running sum, max + earliest attaining instant. All BIGINT.
ORACLES["peak_concurrency_daily"] = """
WITH spans AS (
  SELECT CAST(ts AS DATE) AS day, user_id,
    CAST(min(epoch_us(ts)) AS BIGINT) AS start_us,
    CAST(max(epoch_us(ts)) AS BIGINT) AS end_us
  FROM events GROUP BY 1, 2),
deltas AS (
  SELECT day, start_us AS t, 1 AS delta FROM spans
  UNION ALL
  SELECT day, end_us AS t, -1 AS delta FROM spans),
run AS (
  SELECT day, t, delta,
    CAST(sum(delta) OVER (PARTITION BY day ORDER BY t ASC, delta DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS live
  FROM deltas),
r2 AS (
  SELECT *, CAST(max(live) OVER (PARTITION BY day) AS BIGINT) AS peak
  FROM run)
SELECT day,
  CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_intervals,
  CAST(max(peak) AS BIGINT) AS peak_concurrent,
  CAST(min(CASE WHEN live = peak THEN t END) AS BIGINT) AS peak_at_us
FROM r2 GROUP BY day
"""


# Weighted median — mirrors relational.weighted_median: smallest value
# whose doubled cumulative integer weight reaches the total, over the
# per-value aggregated table. No interpolation.
ORACLES["weighted_median_price"] = """
WITH vw AS (
  SELECT l_returnflag AS g, l_extendedprice AS value,
    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2),
cum AS (
  SELECT g, value,
    CAST(sum(w) OVER (PARTITION BY g ORDER BY value
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum,
    CAST(sum(w) OVER (PARTITION BY g) AS BIGINT) AS total
  FROM vw)
SELECT g AS l_returnflag,
  max(total) AS total_weight,
  CAST(min(CASE WHEN 2 * cum >= total THEN value END) AS DECIMAL(18,2))
    AS weighted_median
FROM cum GROUP BY g
"""


# Shared quality-score CTE chain (mirrors text.logit_quality_score with
# the registry's frozen weights) ending in scored(doc_id, source, lang,
# quality_score) — reused by the AUC and calibration oracles.
_QSCORE = f"""feats AS (
  SELECT doc_id, source, lang,
    CAST(len(toks) AS DOUBLE) AS nt,
    round(CAST(length(replace(lower(text), ' ', '')) AS DOUBLE)
      / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS atl,
    round(CAST(len(list_filter(toks, x -> list_contains({_STOP_EN}, x))) AS DOUBLE)
      / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS sr,
    round(CAST(len(list_distinct(toks)) AS DOUBLE)
      / CAST(greatest(len(toks), 1) AS DOUBLE), 6) AS utr
  FROM (SELECT doc_id, source, lang, text, {TOKS} AS toks FROM documents)),
z AS (
  SELECT doc_id, source, lang,
    CAST(-1.0 AS DOUBLE)
      + CAST(-0.1 AS DOUBLE) * atl
      + CAST(0.01 AS DOUBLE) * nt
      + CAST(2.0 AS DOUBLE) * sr
      + CAST(1.5 AS DOUBLE) * utr AS z
  FROM feats),
scored AS (
  SELECT doc_id, source, lang,
    round(CAST(0.5 AS DOUBLE)
      + CAST(0.5 AS DOUBLE) * z / (CAST(1.0 AS DOUBLE) + abs(z)), 6)
      AS quality_score
  FROM z)"""


# Exact ROC-AUC per source — mirrors relational.auc_mann_whitney:
# doubled average ranks keep U integer; AUC is one double shape.
ORACLES["auc_en_quality"] = f"""
WITH {_QSCORE},
r AS (
  SELECT source AS g, (lang = 'en') AS y,
    2 * CAST(rank() OVER (PARTITION BY source ORDER BY quality_score)
             AS BIGINT)
      + CAST(count(*) OVER (PARTITION BY source, quality_score)
             AS BIGINT) - 1 AS r2
  FROM scored),
m AS (
  SELECT g,
    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
    CAST(sum(CASE WHEN y THEN r2 ELSE 0 END) AS BIGINT) AS s2pos
  FROM r GROUP BY g),
u AS (
  SELECT g, n_pos, n_neg,
    CAST(s2pos - n_pos * (n_pos + 1) AS BIGINT) AS u2
  FROM m)
SELECT g AS source, n_pos, n_neg, u2,
  CASE WHEN n_pos > 0 AND n_neg > 0
    THEN round(CAST(u2 AS DOUBLE)
               / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
    ELSE 0.0 END AS auc
FROM u
"""


# Calibration table + ECE — mirrors relational.calibration_table:
# micro-integer scores, BIGINT buckets and ECE numerator (quantized
# before the order-sensitive total), double shapes only for display.
ORACLES["quality_calibration"] = f"""
WITH {_QSCORE},
base AS (
  SELECT (lang = 'en') AS y,
    CAST(CAST(quality_score AS DECIMAL(18,6)) * 1000000 AS BIGINT)
      AS score_micro
  FROM scored),
per AS (
  SELECT least(CAST((score_micro * 10) // 1000000 AS BIGINT), 9) AS bucket,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
    CAST(sum(score_micro) AS BIGINT) AS conf_micro
  FROM base GROUP BY 1),
tot AS (
  SELECT *,
    CAST(sum(abs(n_pos * 1000000 - conf_micro)) OVER () AS BIGINT)
      AS ece_num,
    CAST(sum(n) OVER () AS BIGINT) AS n_tot
  FROM per)
SELECT bucket, n, n_pos,
  round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS acc,
  round(CAST(conf_micro AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0), 6)
    AS conf,
  round(CAST(ece_num AS DOUBLE) / (CAST(n_tot AS DOUBLE) * 1000000.0), 6)
    AS ece
FROM tot
"""


# Out-of-fold target encoding — mirrors sampling.target_encode_oof on
# customer segments: md5 folds, (segment, fold) integer moments,
# window complements, double mean rounded to 6 with the global-mean
# fallback.
_KF = _hex_to_long("md5('kfold' || '|' || CAST(c_custkey AS VARCHAR))", 8)
ORACLES["target_encode_segment"] = f"""
WITH folded AS (
  SELECT c_mktsegment AS category,
    {_KF} % 5 AS fold,
    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS t
  FROM customer),
cf AS (
  SELECT category, fold, CAST(count(*) AS BIGINT) AS n_in_fold,
    CAST(sum(t) AS BIGINT) AS s
  FROM folded GROUP BY 1, 2),
enr AS (
  SELECT *,
    CAST(sum(n_in_fold) OVER (PARTITION BY category) AS BIGINT) AS cat_n,
    CAST(sum(s) OVER (PARTITION BY category) AS BIGINT) AS cat_s,
    CAST(sum(n_in_fold) OVER () AS BIGINT) AS tot_n,
    CAST(sum(s) OVER () AS BIGINT) AS tot_s
  FROM cf)
SELECT category AS c_mktsegment, fold, n_in_fold,
  CAST(cat_n - n_in_fold AS BIGINT) AS oof_n,
  round(CASE WHEN cat_n - n_in_fold > 0
    THEN CAST(cat_s - s AS DOUBLE) / CAST(cat_n - n_in_fold AS DOUBLE)
    ELSE CAST(tot_s AS DOUBLE) / CAST(tot_n AS DOUBLE) END, 6) AS oof_mean
FROM enr
"""


# Association rules over (user, event_type) baskets — mirrors
# relational.association_rules: exact counts, truncating micro
# divisions, lift as one double shape.
ORACLES["association_rules_events"] = """
WITH bi AS (SELECT DISTINCT user_id AS b, event_type AS i FROM events),
pairs AS (
  SELECT a.i AS x, c.i AS y, CAST(count(*) AS BIGINT) AS co
  FROM bi a JOIN bi c ON a.b = c.b AND a.i < c.i
  GROUP BY 1, 2 HAVING count(*) >= 5),
items AS (SELECT i, CAST(count(*) AS BIGINT) AS cnt FROM bi GROUP BY 1),
nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM bi),
pairboth AS (
  SELECT p.x, p.y, p.co, ix.cnt AS nx, iy.cnt AS ny, nb.n
  FROM pairs p
  JOIN items ix ON ix.i = p.x
  JOIN items iy ON iy.i = p.y
  CROSS JOIN nb),
rules AS (
  SELECT x AS antecedent, y AS consequent, co, nx AS n_ante, ny AS n_cons, n
  FROM pairboth
  UNION ALL
  SELECT y, x, co, ny, nx, n FROM pairboth)
SELECT antecedent, consequent,
  co AS n_pair,
  n_ante AS n_antecedent,
  CAST((co * 1000000) // n AS BIGINT) AS support_micro,
  CAST((co * 1000000) // n_ante AS BIGINT) AS confidence_micro,
  round(CAST(co AS DOUBLE) * CAST(n AS DOUBLE)
        / (CAST(n_ante AS DOUBLE) * CAST(n_cons AS DOUBLE)), 6) AS lift
FROM rules
"""


# nDCG@10 + MRR for three BM25 queries with lang-match relevance —
# mirrors similarity.ndcg_at_k: position discounts are the SAME
# Python-materialized micro-integer literals the operator ships
# (generated from _ndcg_weights(10)), so DCG/IDCG are exact BIGINT.
ORACLES["ndcg_bm25_langmatch"] = f"""
WITH tk AS (SELECT doc_id, lang, {TOKS} AS toks FROM documents),
tft AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tk) GROUP BY 1, 2),
dl AS (SELECT doc_id, len(toks) AS dl FROM tk),
st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       FROM dl),
dfreq AS (SELECT term, count(*) AS df FROM tft GROUP BY 1),
q AS (SELECT DISTINCT doc_id AS qid, unnest(toks) AS term
      FROM tk WHERE doc_id IN (0, 1, 2)),
contrib AS (
  SELECT q.qid, t.doc_id, d.dl,
    CAST(round(
      ln((CAST(st.n_docs AS DOUBLE) - fr.df + 0.5) / (fr.df + 0.5) + 1.0)
      * ((CAST(t.tf AS DOUBLE) * 2.2)
         / (CAST(t.tf AS DOUBLE)
            + 1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE) / st.avgdl))),
      6) AS DECIMAL(18,6)) AS c
  FROM tft t
  JOIN q ON q.term = t.term
  JOIN dfreq fr ON fr.term = t.term
  JOIN dl d ON d.doc_id = t.doc_id
  CROSS JOIN st
  WHERE t.doc_id <> q.qid),
scores AS (
  SELECT qid, doc_id,
    CAST(sum(c) * 1000000 AS BIGINT) AS score_micro
  FROM contrib GROUP BY 1, 2),
ranked AS (
  SELECT qid, doc_id,
    CAST(row_number() OVER (PARTITION BY qid
      ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS pos
  FROM scores),
top AS (
  SELECT r.qid, r.pos,
    (c.lang = ql.lang) AS rel
  FROM ranked r
  JOIN tk c ON c.doc_id = r.doc_id
  JOIN tk ql ON ql.doc_id = r.qid
  WHERE r.pos <= 10),
wt (pos, w_micro) AS (VALUES (1, 1000000), (2, 630930), (3, 500000), (4, 430677), (5, 386853), (6, 356207), (7, 333333), (8, 315465), (9, 301030), (10, 289065)),
idcg (m, idcg_micro) AS (VALUES (0, 0), (1, 1000000), (2, 1630930), (3, 2130930), (4, 2561607), (5, 2948460), (6, 3304667), (7, 3638000), (8, 3953465), (9, 4254495), (10, 4543560)),
perq AS (
  SELECT t.qid,
    CAST(count(*) AS BIGINT) AS n_retrieved,
    CAST(sum(CASE WHEN t.rel THEN w.w_micro ELSE 0 END) AS BIGINT)
      AS dcg_micro,
    min(CASE WHEN t.rel THEN t.pos END) AS first_rel
  FROM top t JOIN wt w ON w.pos = t.pos
  GROUP BY 1),
tot AS (
  SELECT ql.doc_id AS qid, CAST(count(*) AS BIGINT) AS n_relevant_total
  FROM tk ql JOIN tk c ON c.lang = ql.lang AND c.doc_id <> ql.doc_id
  WHERE ql.doc_id IN (0, 1, 2)
  GROUP BY 1)
-- FULL join mirrors ndcg_at_k: a query with zero retrieved rows
-- within top-k still surfaces as n_retrieved=0 / ndcg=0 / mrr=0
SELECT COALESCE(p.qid, tot.qid) AS query_doc,
  CAST(COALESCE(p.n_retrieved, 0) AS BIGINT) AS n_retrieved,
  COALESCE(tot.n_relevant_total, 0) AS n_relevant_total,
  CAST(COALESCE(p.dcg_micro, 0) AS BIGINT) AS dcg_micro,
  CAST(i.idcg_micro AS BIGINT) AS idcg_micro,
  CASE WHEN i.idcg_micro > 0
    THEN round(CAST(COALESCE(p.dcg_micro, 0) AS DOUBLE)
               / CAST(i.idcg_micro AS DOUBLE), 6)
    ELSE 0.0 END AS ndcg,
  CASE WHEN p.first_rel IS NOT NULL
    THEN CAST(1000000 // p.first_rel AS BIGINT) ELSE 0 END AS mrr_micro
FROM perq p
FULL JOIN tot ON tot.qid = p.qid
JOIN idcg i ON i.m = least(COALESCE(tot.n_relevant_total, 0), 10)
"""


# Missing-id ranges in the finalized-order id space — mirrors
# relational.sequence_gaps two-level shape; globally a single lag
# suffices for the oracle (DuckDB is single-node).
ORACLES["orderkey_gaps"] = """
WITH ids AS (SELECT DISTINCT CAST(o_orderkey AS BIGINT) AS id
             FROM orders WHERE o_orderstatus = 'F'),
lagd AS (
  SELECT id, lag(id) OVER (ORDER BY id) AS prev FROM ids),
gaps AS (
  SELECT prev + 1 AS gap_start, id - 1 AS gap_end,
    CAST(id - prev - 1 AS BIGINT) AS gap_len
  FROM lagd WHERE prev IS NOT NULL AND id - prev > 1)
SELECT gap_start, gap_end, gap_len FROM gaps WHERE gap_len >= 3
"""


# Signup -> purchase funnel latency — mirrors
# relational.conversion_delay_quantiles: first-event micros, lower
# empirical quantiles at integer rank indexes, truncating-div mean.
ORACLES["signup_purchase_delay"] = """
WITH firsts AS (
  SELECT user_id,
    min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t_from,
    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_to
  FROM events
  WHERE event_type IN ('signup', 'purchase')
  GROUP BY 1),
conv AS (
  SELECT CAST(hour(make_timestamp(t_from)) AS BIGINT) AS cohort,
    CAST(t_to - t_from AS BIGINT) AS delay_us
  FROM firsts
  WHERE t_from IS NOT NULL AND t_to IS NOT NULL AND t_to > t_from),
ranked AS (
  SELECT cohort, delay_us,
    CAST(row_number() OVER (PARTITION BY cohort ORDER BY delay_us)
         AS BIGINT) AS r,
    CAST(count(*) OVER (PARTITION BY cohort) AS BIGINT) AS n
  FROM conv)
SELECT cohort AS signup_hour,
  CAST(max(n) AS BIGINT) AS n_converted,
  CAST(max(CASE WHEN r = (n - 1) // 2 + 1 THEN delay_us END) AS BIGINT)
    AS p50_delay_us,
  CAST(max(CASE WHEN r = ((n - 1) * 9) // 10 + 1 THEN delay_us END)
       AS BIGINT) AS p90_delay_us,
  CAST(sum(delay_us) // max(n) AS BIGINT) AS mean_delay_us
FROM ranked GROUP BY cohort
"""


# One-way ANOVA — mirrors relational.anova_oneway on documents.n_chars
# by source: per-group terms micro-quantized by truncating HUGEINT
# division before the total; F the one double shape rounded to 6.
ORACLES["anova_doc_length"] = """
WITH g AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_g,
    CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS s_g,
    sum(CAST(n_chars AS HUGEINT) * n_chars) AS s2_g
  FROM documents GROUP BY 1),
t AS (
  SELECT CAST(count(*) AS BIGINT) AS k_groups,
    CAST(sum(n_g) AS BIGINT) AS n,
    CAST(sum(s_g) AS BIGINT) AS s,
    sum(s2_g) AS sq,
    sum((CAST(s_g AS HUGEINT) * s_g * 1000000) // n_g) AS terms
  FROM g),
st AS (
  SELECT *,
    (CAST(s AS HUGEINT) * s * 1000000) // n AS grand
  FROM t),
fin AS (
  SELECT k_groups, n,
    CAST(terms - grand AS HUGEINT) AS ssb,
    CAST(sq * 1000000 - grand - (terms - grand) AS HUGEINT) AS ssw
  FROM st)
SELECT k_groups, n,
  CAST(ssb AS BIGINT) AS ssb_micro,
  CAST(ssw AS BIGINT) AS ssw_micro,
  CAST(k_groups - 1 AS BIGINT) AS df_between,
  CAST(n - k_groups AS BIGINT) AS df_within,
  CASE WHEN k_groups > 1 AND n > k_groups AND ssw > 0
    THEN round((CAST(ssb AS DOUBLE) / CAST(k_groups - 1 AS DOUBLE))
               / (CAST(ssw AS DOUBLE) / CAST(n - k_groups AS DOUBLE)), 6)
    ELSE 0.0 END AS f_stat
FROM fin
"""


# Kruskal-Wallis H — mirrors relational.kruskal_wallis: histogram-
# derived doubled average ranks, micro-quantized numerator terms
# (x250000 = 10^6/4 for the doubled-rank square), tie-corrected H.
ORACLES["kruskal_doc_length"] = """
WITH gv AS (
  SELECT source AS g, CAST(n_chars AS BIGINT) AS v,
    CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2),
vh AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM gv GROUP BY 1),
vh2 AS (
  SELECT v, cv,
    CAST(sum(cv) OVER (ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cv AS BIGINT)
      AS below
  FROM vh),
ranked AS (
  SELECT gv.g, gv.c, CAST(2 * vh2.below + vh2.cv + 1 AS BIGINT) AS r2
  FROM gv JOIN vh2 ON vh2.v = gv.v),
per_g AS (
  SELECT g, CAST(sum(c) AS BIGINT) AS n_g,
    sum(CAST(c AS HUGEINT) * r2) AS s2_g
  FROM ranked GROUP BY 1),
tt AS (
  SELECT sum(CAST(cv AS HUGEINT) * cv * cv - cv) AS tie_t,
    CAST(sum(cv) AS BIGINT) AS n
  FROM vh),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k_groups,
    sum((s2_g * s2_g * 250000) // n_g) AS terms_micro
  FROM per_g)
SELECT k_groups, n, CAST(tie_t AS BIGINT) AS tie_t,
  CASE WHEN n > k_groups
        AND 1.0 - CAST(tie_t AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
               - CAST(n AS DOUBLE)) > 0
    THEN round(
      (12.0 * (CAST(terms_micro AS DOUBLE) / 1000000.0)
         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
       - 3.0 * (CAST(n AS DOUBLE) + 1.0))
      / (1.0 - CAST(tie_t AS DOUBLE)
         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
            - CAST(n AS DOUBLE))), 6)
    ELSE 0.0 END AS h_stat
FROM tot CROSS JOIN tt
"""


# Siegel repeated medians — mirrors relational.siegel_slopes over the
# theil_sen monthly series: inner two-middle-sum median per anchor
# (x2), outer two-middle-sum of those (x4), pure BIGINT milli-slopes.
ORACLES["siegel_trend"] = """
WITH monthly AS (
  SELECT n.n_name,
    (CAST(year(o_orderdate) AS BIGINT) - 1995) * 12
      + CAST(month(o_orderdate) AS BIGINT) - 1 AS t,
    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      AS rev_cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2),
pairs AS (
  SELECT a.n_name, a.t AS anchor,
    (1000 * (b.rev_cents - a.rev_cents)) // (b.t - a.t) AS s
  FROM monthly a JOIN monthly b
    ON a.n_name = b.n_name AND a.t <> b.t),
inner_med AS (
  SELECT n_name, anchor, CAST(2 * median(s) AS BIGINT) AS med_x2
  FROM pairs GROUP BY 1, 2),
np AS (
  SELECT n_name, CAST(count(*) AS BIGINT) AS n_points
  FROM monthly GROUP BY 1)
SELECT np.n_name, np.n_points,
  CAST(2 * median(i.med_x2) AS BIGINT) AS siegel_milli_x4
FROM np JOIN inner_med i ON i.n_name = np.n_name
GROUP BY 1, 2
"""


# Delta-encoding audit — mirrors relational.delta_encoding_audit over
# daily event cents: BIGINT lag deltas, micro ratio by truncating
# division, bit widths via the explicit ln-ratio floor.
ORACLES["delta_audit_events"] = """
WITH daily AS (
  SELECT event_type AS key,
    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
      AS t,
    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
lagd AS (
  SELECT key, x,
    x - lag(x) OVER (PARTITION BY key ORDER BY t) AS d
  FROM daily),
agg AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n_points,
    CAST(sum(abs(x)) AS BIGINT) AS sum_abs_raw,
    CAST(sum(abs(d)) AS BIGINT) AS sum_abs_delta,
    CAST(max(abs(x)) AS BIGINT) AS max_raw,
    CAST(max(abs(d)) AS BIGINT) AS max_delta
  FROM lagd GROUP BY 1)
SELECT key AS event_type, n_points, sum_abs_raw, sum_abs_delta,
  CASE WHEN sum_abs_raw > 0
    THEN CAST((sum_abs_delta * 1000000) // sum_abs_raw AS BIGINT)
    ELSE 0 END AS delta_ratio_micro,
  CASE WHEN max_raw > 0
    THEN CAST(length(bin(max_raw)) AS BIGINT)
    ELSE 0 END AS raw_bits,
  CASE WHEN max_delta > 0
    THEN CAST(length(bin(max_delta)) AS BIGINT)
    ELSE 0 END AS delta_bits
FROM agg
"""


# Trimmed mean — mirrors relational.trimmed_mean (10% two-sided, ppm
# rank bounds, DECIMAL kept sum, one double shape).
ORACLES["trimmed_mean_price"] = """
WITH ranked AS (
  SELECT l_returnflag AS g, CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
    CAST(row_number() OVER (PARTITION BY l_returnflag
      ORDER BY CAST(l_extendedprice AS DECIMAL(18,2))) AS BIGINT) AS r,
    CAST(count(*) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
  FROM lineitem),
k AS (
  SELECT *, (n * 100000) // 1000000 AS kk FROM ranked),
agg AS (
  SELECT g, CAST(max(n) AS BIGINT) AS n,
    sum(CASE WHEN r >= kk + 1 AND r <= n - kk THEN v END) AS s,
    CAST(sum(CASE WHEN r >= kk + 1 AND r <= n - kk THEN 1 ELSE 0 END)
         AS BIGINT) AS n_kept
  FROM k GROUP BY g)
SELECT g AS l_returnflag, n, n_kept,
  CASE WHEN n_kept > 0
    THEN round(CAST(s AS DOUBLE) / CAST(n_kept AS DOUBLE), 6)
    ELSE 0.0 END AS trimmed_mean
FROM agg
"""


# Deterministic mode — mirrors relational.mode_value: max (count,
# -value) struct fold, highest count then smallest value.
ORACLES["mode_quantity"] = """
WITH vc AS (
  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v,
    CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1, 2),
best AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_distinct,
    CAST(max(cnt) AS BIGINT) AS mode_count
  FROM vc GROUP BY g)
SELECT b.g AS l_returnflag,
  CAST(min(v.v) AS BIGINT) AS mode_value,
  b.mode_count, b.n_distinct
FROM best b JOIN vc v ON v.g = b.g AND v.cnt = b.mode_count
GROUP BY 1, 3, 4
"""


# PSI drift — mirrors relational.psi_drift: Laplace +1 smoothing per
# bucket, 9dp-rounded DECIMAL (q-p)*ln(q/p) terms (order-independent
# sum), totals over the post-agg bucket table.
ORACLES["psi_doc_length_drift"] = """
WITH bucketed AS (
  -- NULLs get the dedicated -1 bucket (mirrors the operators'
  -- missingness bucket; n_chars is NOT NULL here so output is
  -- unchanged, but the twin must share the semantics)
  SELECT CASE WHEN n_chars IS NULL THEN -1
              WHEN CAST(n_chars AS DOUBLE) >= 350 THEN 5
              WHEN CAST(n_chars AS DOUBLE) >= 300 THEN 4
              WHEN CAST(n_chars AS DOUBLE) >= 250 THEN 3
              WHEN CAST(n_chars AS DOUBLE) >= 200 THEN 2
              WHEN CAST(n_chars AS DOUBLE) >= 150 THEN 1
              ELSE 0 END AS bucket,
         doc_id % 2 = 0 AS is_ref
  FROM documents),
per_bucket AS (
  SELECT bucket,
    CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
    CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
  FROM bucketed GROUP BY bucket),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS nb,
    CAST(sum(n_ref) AS BIGINT) AS t_ref,
    CAST(sum(n_cur) AS BIGINT) AS t_cur
  FROM per_bucket),
terms AS (
  SELECT b.bucket, b.n_ref, b.n_cur,
    CAST(b.n_ref + 1 AS DOUBLE) / CAST(t.t_ref + t.nb AS DOUBLE) AS p,
    CAST(b.n_cur + 1 AS DOUBLE) / CAST(t.t_cur + t.nb AS DOUBLE) AS q
  FROM per_bucket b CROSS JOIN tot t),
dec_terms AS (
  SELECT bucket, n_ref, n_cur, p, q,
    CAST(round((q - p) * ln(q / p), 9) AS DECIMAL(28,12)) AS term
  FROM terms),
total AS (SELECT sum(term) AS psi FROM dec_terms)
SELECT bucket, n_ref, n_cur,
  round(p, 6) AS p_ref, round(q, 6) AS q_cur,
  round(CAST(term AS DOUBLE), 9) AS psi_term,
  round(CAST(total.psi AS DOUBLE), 6) AS psi_total
FROM dec_terms CROSS JOIN total
ORDER BY bucket
"""


# Distinctive terms — mirrors text.distinctive_terms: Monroe log-odds
# with Dirichlet prior (a_w = 0.01*y_w), fixed IEEE z shape rounded to
# 6, top-5 per source by (z DESC, term ASC).
ORACLES["distinctive_terms_sources"] = f"""
WITH tok AS (
  SELECT source AS grp, unnest({TOKS}) AS term FROM documents),
gt AS (
  SELECT grp, term, CAST(count(*) AS BIGINT) AS y_gw
  FROM tok GROUP BY 1, 2),
tw AS (SELECT term, CAST(sum(y_gw) AS BIGINT) AS y_w FROM gt GROUP BY 1),
ng AS (SELECT grp, CAST(sum(y_gw) AS BIGINT) AS n_g FROM gt GROUP BY 1),
tot AS (SELECT CAST(sum(y_w) AS BIGINT) AS n_all FROM tw),
j AS (
  SELECT gt.grp, gt.term, gt.y_gw, tw.y_w, ng.n_g, tot.n_all,
    0.01 * CAST(tw.y_w AS DOUBLE) AS a_w,
    0.01 * CAST(tot.n_all AS DOUBLE) AS a0
  FROM gt
  JOIN tw ON tw.term = gt.term
  JOIN ng ON ng.grp = gt.grp
  CROSS JOIN tot),
z AS (
  SELECT grp, term, y_gw,
    CAST(y_w - y_gw AS BIGINT) AS n_rest_cnt,
    round(
      (ln(CAST(y_gw AS DOUBLE) + a_w)
       - ln(CAST(n_g AS DOUBLE) + a0 - CAST(y_gw AS DOUBLE) - a_w)
       - ln(CAST(y_w - y_gw AS DOUBLE) + a_w)
       + ln(CAST(n_all - n_g AS DOUBLE) + a0
            - CAST(y_w - y_gw AS DOUBLE) - a_w))
      / sqrt(1.0 / (CAST(y_gw AS DOUBLE) + a_w)
             + 1.0 / (CAST(y_w - y_gw AS DOUBLE) + a_w)), 6) AS z_score
  FROM j),
ranked AS (
  SELECT grp, term, y_gw, n_rest_cnt, z_score,
    CAST(row_number() OVER (PARTITION BY grp
      ORDER BY z_score DESC, term ASC) AS BIGINT) AS rank
  FROM z)
SELECT grp AS source, term, y_gw AS n_in_group, n_rest_cnt AS n_rest,
  z_score, rank
FROM ranked WHERE rank <= 5
"""


# Newman-weighted projection — mirrors graph.newman_weighted_projection
# over the windowed order->part bipartite graph: 10^6 div (d-1) per
# basket, exact BIGINT pair sums, >= 500000 micro filter.
ORACLES["weighted_affinity_pairs"] = """
WITH lp AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'),
sizes AS (SELECT k, CAST(count(*) AS BIGINT) AS d FROM lp GROUP BY 1),
ann AS (
  SELECT lp.k, lp.p, CAST(1000000 // (s.d - 1) AS BIGINT) AS w
  FROM lp JOIN sizes s ON s.k = lp.k WHERE s.d >= 2),
pairs AS (
  SELECT a.p AS u, b.p AS v,
    CAST(count(*) AS BIGINT) AS n_baskets,
    CAST(sum(a.w) AS BIGINT) AS weight_micro
  FROM ann a JOIN ann b ON a.k = b.k AND a.p < b.p
  GROUP BY 1, 2)
SELECT u, v, n_baskets, weight_micro
FROM pairs WHERE weight_micro >= 500000
"""


# Bloom FPR calibration — mirrors relational.bloom_fpr_audit with the
# portable md5-prefix hash family: realized counts exact BIGINT,
# theory = (1 - e^(-k*n/m))^k the single rounded libm scalar.
ORACLES["bloom_fpr_calibration"] = """
WITH member AS (SELECT DISTINCT o_orderkey FROM orders WHERE o_orderkey % 2 = 0),
probe AS (
  SELECT DISTINCT o_orderkey FROM orders WHERE o_orderkey % 2 = 1),
probe2 AS (
  SELECT p.o_orderkey FROM probe p
  LEFT JOIN member m ON m.o_orderkey = p.o_orderkey
  WHERE m.o_orderkey IS NULL),
bits AS (
  SELECT DISTINCT bit FROM (
    SELECT (CAST(list_sum([(strpos('0123456789abcdef', substr(md5('0' || '|' || CAST(o_orderkey AS VARCHAR)), j, 1)) - 1) * power(16, 8 - j) for j in range(1, 9)]) AS BIGINT)) % 65536 AS bit FROM member
    UNION ALL SELECT (CAST(list_sum([(strpos('0123456789abcdef', substr(md5('1' || '|' || CAST(o_orderkey AS VARCHAR)), j, 1)) - 1) * power(16, 8 - j) for j in range(1, 9)]) AS BIGINT)) % 65536 FROM member
    UNION ALL SELECT (CAST(list_sum([(strpos('0123456789abcdef', substr(md5('2' || '|' || CAST(o_orderkey AS VARCHAR)), j, 1)) - 1) * power(16, 8 - j) for j in range(1, 9)]) AS BIGINT)) % 65536 FROM member)),
fp AS (
  SELECT count(*) AS n_false_positive FROM probe2 p
  WHERE ((CAST(list_sum([(strpos('0123456789abcdef', substr(md5('0' || '|' || CAST(p.o_orderkey AS VARCHAR)), j, 1)) - 1) * power(16, 8 - j) for j in range(1, 9)]) AS BIGINT)) % 65536) IN (SELECT bit FROM bits)
    AND ((CAST(list_sum([(strpos('0123456789abcdef', substr(md5('1' || '|' || CAST(p.o_orderkey AS VARCHAR)), j, 1)) - 1) * power(16, 8 - j) for j in range(1, 9)]) AS BIGINT)) % 65536) IN (SELECT bit FROM bits)
    AND ((CAST(list_sum([(strpos('0123456789abcdef', substr(md5('2' || '|' || CAST(p.o_orderkey AS VARCHAR)), j, 1)) - 1) * power(16, 8 - j) for j in range(1, 9)]) AS BIGINT)) % 65536) IN (SELECT bit FROM bits))
SELECT
  CAST((SELECT count(*) FROM member) AS BIGINT) AS n_member,
  CAST((SELECT count(*) FROM probe2) AS BIGINT) AS n_probe,
  CAST((SELECT count(*) FROM bits) AS BIGINT) AS bits_set,
  CAST(fp.n_false_positive AS BIGINT) AS n_false_positive,
  CASE WHEN (SELECT count(*) FROM probe2) > 0
    THEN CAST((fp.n_false_positive * 1000000)
              // (SELECT count(*) FROM probe2) AS BIGINT)
    ELSE 0 END AS fpr_micro,
  round(pow(1.0 - exp(-3.0 * CAST((SELECT count(*) FROM member) AS DOUBLE)
                      / 65536.0), 3.0), 6) AS theory_fpr
FROM fp
"""


# Zipf fit — mirrors text.zipf_fit: (count DESC, term ASC) ranks,
# 9dp-rounded DECIMAL log terms, fixed OLS double shapes.
ORACLES["zipf_fit_sources"] = f"""
WITH tok AS (
  SELECT source AS grp, unnest({TOKS}) AS term FROM documents),
gt AS (
  SELECT grp, term, CAST(count(*) AS BIGINT) AS cnt
  FROM tok GROUP BY 1, 2),
ranked AS (
  SELECT grp, cnt,
    CAST(row_number() OVER (PARTITION BY grp
      ORDER BY cnt DESC, term ASC) AS BIGINT) AS rank
  FROM gt),
top AS (SELECT * FROM ranked WHERE rank <= 100),
terms AS (
  SELECT grp,
    CAST(round(ln(CAST(rank AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
    CAST(round(ln(CAST(cnt AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
  FROM top),
m AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_terms_fit,
    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
    sum(x * x) AS sxx, sum(y * y) AS syy
  FROM terms GROUP BY 1),
fin AS (
  SELECT grp, n_terms_fit,
    CAST(n_terms_fit AS DOUBLE) AS n,
    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
    CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd,
    CAST(syy AS DOUBLE) AS syyd
  FROM m),
sl AS (
  SELECT grp, n_terms_fit, n, sxd, syd,
    CASE WHEN n * sxxd - sxd * sxd > 0
      THEN (n * sxyd - sxd * syd) / (n * sxxd - sxd * sxd)
      ELSE 0.0 END AS slope,
    CASE WHEN (n * sxxd - sxd * sxd) * (n * syyd - syd * syd) > 0
      THEN ((n * sxyd - sxd * syd) * (n * sxyd - sxd * syd))
           / ((n * sxxd - sxd * sxd) * (n * syyd - syd * syd))
      ELSE 0.0 END AS r2
  FROM fin)
SELECT grp AS source, n_terms_fit,
  round(slope, 6) AS zipf_slope,
  round((syd - slope * sxd) / n, 6) AS zipf_intercept,
  round(r2, 6) AS r2
FROM sl
"""


# Grid-cell DBSCAN — mirrors relational.grid_dbscan over the md5
# customer coordinates: ppm-quantized cell floors, core cells >= 3,
# 8-neighbor adjacency, recursive-closure min-label components.
ORACLES["geo_hotspot_clusters"] = f"""
WITH RECURSIVE pts AS (
  SELECT c_custkey AS pid,
    round(({_GEO_FRAC('lat')}) * 10, 6) AS x,
    round(({_GEO_FRAC('lon')}) * 10, 6) AS y
  FROM customer),
cells AS (
  SELECT CAST(floor(CAST(x AS DECIMAL(18,6)) * 1000000 / 250000) AS BIGINT)
      AS cx,
    CAST(floor(CAST(y AS DECIMAL(18,6)) * 1000000 / 250000) AS BIGINT)
      AS cy,
    CAST(count(*) AS BIGINT) AS n_points
  FROM pts GROUP BY 1, 2),
core AS (
  SELECT cx, cy, n_points,
    CAST((cx + 1000000) * 4000000 + (cy + 1000000) AS BIGINT) AS cell_id
  FROM cells WHERE n_points >= 3),
offs AS (
  SELECT unnest([-1, -1, -1, 0, 0, 1, 1, 1]) AS dx,
    unnest([-1, 0, 1, -1, 1, -1, 0, 1]) AS dy),
adj AS (
  SELECT DISTINCT a.cell_id AS id_a, b.cell_id AS id_b
  FROM core a CROSS JOIN offs o
  JOIN core b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
  WHERE a.cell_id < b.cell_id),
und AS (
  SELECT id_a AS src, id_b AS dst FROM adj
  UNION SELECT id_b, id_a FROM adj),
reach(src, dst) AS (
  SELECT src, dst FROM und
  UNION
  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src),
comp AS (
  SELECT src AS id, least(src, MIN(dst)) AS c FROM reach GROUP BY src)
SELECT CAST(COALESCE(comp.c, core.cell_id) AS BIGINT) AS cluster_id,
  CAST(count(*) AS BIGINT) AS n_cells,
  CAST(sum(core.n_points) AS BIGINT) AS n_points
FROM core LEFT JOIN comp ON comp.id = core.cell_id
GROUP BY 1
"""


# Difference-in-differences — mirrors relational.diff_in_diff: hash
# treatment split, midpoint time split, one four-cell conditional
# moment pass (squares HUGEINT), Welch-style SE, fixed double shapes.
ORACLES["did_weekend_premium"] = """
WITH rng AS (
  SELECT min(CAST(ts AS DATE)) AS mn, max(CAST(ts AS DATE)) AS mx
  FROM events),
base AS (
  SELECT
    ((CAST(list_sum([(strpos('0123456789abcdef', substr(md5('did' || '|' || CAST(user_id AS VARCHAR)), j, 1)) - 1) * power(16, 8 - j) for j in range(1, 9)]) AS BIGINT)) / 4294967296.0) < 0.5 AS t,
    date_diff('day', rng.mn, CAST(ts AS DATE))
      > date_diff('day', rng.mn, rng.mx) / 2 AS p,
    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
  FROM events CROSS JOIN rng),
m AS (
  SELECT
    CAST(sum(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS n_t_pre,
    CAST(sum(CASE WHEN t AND NOT p THEN x ELSE 0 END) AS BIGINT) AS s_t_pre,
    sum(CASE WHEN t AND NOT p THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS q_t_pre,
    CAST(sum(CASE WHEN t AND p THEN 1 ELSE 0 END) AS BIGINT) AS n_t_post,
    CAST(sum(CASE WHEN t AND p THEN x ELSE 0 END) AS BIGINT) AS s_t_post,
    sum(CASE WHEN t AND p THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS q_t_post,
    CAST(sum(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS n_c_pre,
    CAST(sum(CASE WHEN NOT t AND NOT p THEN x ELSE 0 END) AS BIGINT) AS s_c_pre,
    sum(CASE WHEN NOT t AND NOT p THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS q_c_pre,
    CAST(sum(CASE WHEN NOT t AND p THEN 1 ELSE 0 END) AS BIGINT) AS n_c_post,
    CAST(sum(CASE WHEN NOT t AND p THEN x ELSE 0 END) AS BIGINT) AS s_c_post,
    sum(CASE WHEN NOT t AND p THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS q_c_post
  FROM base),
fin AS (
  SELECT *,
    (CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)
     - CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE))
    - (CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)
       - CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE)) AS did_raw,
    ((CAST(q_t_post AS DOUBLE) - CAST(s_t_post AS DOUBLE) * CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)) / (CAST(n_t_post AS DOUBLE) - 1.0)) / CAST(n_t_post AS DOUBLE)
    + ((CAST(q_t_pre AS DOUBLE) - CAST(s_t_pre AS DOUBLE) * CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE)) / (CAST(n_t_pre AS DOUBLE) - 1.0)) / CAST(n_t_pre AS DOUBLE)
    + ((CAST(q_c_post AS DOUBLE) - CAST(s_c_post AS DOUBLE) * CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)) / (CAST(n_c_post AS DOUBLE) - 1.0)) / CAST(n_c_post AS DOUBLE)
    + ((CAST(q_c_pre AS DOUBLE) - CAST(s_c_pre AS DOUBLE) * CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE)) / (CAST(n_c_pre AS DOUBLE) - 1.0)) / CAST(n_c_pre AS DOUBLE)
      AS se2
  FROM m)
-- degenerate-cell guards mirror relational.diff_in_diff: empty cell
-- -> did NULL; any cell with n<2 (or se2<=0) -> se/t_stat NULL,
-- significant FALSE. The events table never triggers them; the twin
-- shares the semantics.
SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
  round(CASE WHEN least(n_t_pre, n_t_post, n_c_pre, n_c_post) > 0
        THEN did_raw END, 6) AS did,
  round(CASE WHEN least(n_t_pre, n_t_post, n_c_pre, n_c_post) > 1
               AND se2 > 0
        THEN sqrt(se2) END, 6) AS se,
  round(CASE WHEN least(n_t_pre, n_t_post, n_c_pre, n_c_post) > 1
               AND se2 > 0
        THEN did_raw / sqrt(se2) END, 6) AS t_stat,
  COALESCE(abs(CASE WHEN least(n_t_pre, n_t_post, n_c_pre, n_c_post) > 1
                      AND se2 > 0
               THEN did_raw / sqrt(se2) END) > 1.96, FALSE)
    AS significant
FROM fin
"""


# Cache hit curve — mirrors relational.cache_hit_curve on event user
# keys: (count DESC, key ASC) ranks, conditional covered mass,
# truncating micro division.
ORACLES["cache_hit_curve_users"] = """
WITH counts AS (
  SELECT user_id AS key, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1),
ranked AS (
  SELECT cnt,
    CAST(row_number() OVER (ORDER BY cnt DESC, key ASC) AS BIGINT) AS r
  FROM counts),
ks AS (SELECT unnest([10, 100, 1000]) AS k),
tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS total_accesses,
    CAST(count(*) AS BIGINT) AS n_keys_total
  FROM ranked),
per_k AS (
  SELECT ks.k, CAST(sum(ranked.cnt) AS BIGINT) AS covered_accesses
  FROM ranked JOIN ks ON ranked.r <= ks.k GROUP BY 1)
SELECT CAST(ks.k AS BIGINT) AS k, tot.n_keys_total,
  COALESCE(per_k.covered_accesses, 0) AS covered_accesses,
  tot.total_accesses,
  CAST((COALESCE(per_k.covered_accesses, 0) * 1000000)
       // tot.total_accesses AS BIGINT) AS hit_micro
FROM ks LEFT JOIN per_k ON per_k.k = ks.k CROSS JOIN tot
"""


# Char entropy — mirrors text.char_entropy on every 20th doc: per
# (doc, char) counts via per-character unnest, 9dp-rounded DECIMAL
# p*log2 p terms, doc-keyed fold.
ORACLES["char_entropy_gibberish"] = """
WITH dc AS (
  SELECT doc_id AS id, unnest(string_split_regex(text, '')) AS ch
  FROM documents WHERE doc_id % 20 = 0),
dc2 AS (
  SELECT id, ch, CAST(count(*) AS BIGINT) AS cnt
  FROM dc WHERE ch <> '' GROUP BY 1, 2),
totals AS (
  SELECT id, CAST(sum(cnt) AS BIGINT) AS n_chars,
    CAST(count(*) AS BIGINT) AS n_distinct_chars
  FROM dc2 GROUP BY 1),
terms AS (
  SELECT d.id,
    CAST(round((CAST(d.cnt AS DOUBLE) / CAST(t.n_chars AS DOUBLE))
      * (ln(CAST(d.cnt AS DOUBLE) / CAST(t.n_chars AS DOUBLE))
         / ln(CAST(2.0 AS DOUBLE))), 9)
      AS DECIMAL(28,12)) AS term
  FROM dc2 d JOIN totals t ON t.id = d.id),
ent AS (
  SELECT id, CAST(-sum(term) AS DOUBLE) AS char_entropy
  FROM terms GROUP BY 1)
SELECT CAST(t.id AS BIGINT) AS doc_id, t.n_chars, t.n_distinct_chars,
  e.char_entropy,
  e.char_entropy < 2.0 AS is_low_entropy
FROM totals t JOIN ent e ON e.id = t.id
"""


# Wilson interval — mirrors relational.wilson_intervals (z = 1.96).
ORACLES["wilson_en_rate"] = """
WITH m AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
      AS successes
  FROM documents GROUP BY 1),
f AS (
  SELECT source, n, successes,
    CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) AS p,
    CAST(n AS DOUBLE) AS nd
  FROM m)
SELECT source, n, successes,
  round(p, 6) AS rate,
  round((p + 3.8416 / (2.0 * nd)
         - 1.96 * sqrt(p * (1.0 - p) / nd + 3.8416 / (4.0 * nd * nd)))
        / (1.0 + 3.8416 / nd), 6) AS ci_low,
  round((p + 3.8416 / (2.0 * nd)
         + 1.96 * sqrt(p * (1.0 - p) / nd + 3.8416 / (4.0 * nd * nd)))
        / (1.0 + 3.8416 / nd), 6) AS ci_high
FROM f
"""


# EB beta-binomial shrinkage — mirrors relational.eb_shrunk_rates:
# MoM prior from the 9dp-rounded group-rate table, posterior mean.
ORACLES["eb_shrunk_en_rate"] = """
WITH m AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
      AS successes
  FROM documents GROUP BY 1),
rated AS (
  SELECT *, round(CAST(successes AS DOUBLE) / CAST(n AS DOUBLE), 9) AS r
  FROM m),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
    sum(CAST(r AS DECIMAL(28,12))) AS sr,
    sum(CAST(r * r AS DECIMAL(28,12))) AS sr2
  FROM rated),
j AS (
  SELECT rated.*, stats.k, stats.sr, stats.sr2,
    CAST(stats.sr AS DOUBLE) / CAST(stats.k AS DOUBLE) AS mu,
    CAST(stats.sr2 AS DOUBLE) / CAST(stats.k AS DOUBLE)
      - (CAST(stats.sr AS DOUBLE) / CAST(stats.k AS DOUBLE))
        * (CAST(stats.sr AS DOUBLE) / CAST(stats.k AS DOUBLE)) AS var
  FROM rated CROSS JOIN stats),
pri AS (
  SELECT *,
    CASE WHEN var > 0 AND mu > 0 AND mu < 1 AND mu * (1.0 - mu) > var
      THEN mu * (1.0 - mu) / var - 1.0 ELSE 0.0 END AS strength
  FROM j)
SELECT source, n, successes, r AS raw_rate,
  round(mu * strength, 6) AS alpha,
  round((1.0 - mu) * strength, 6) AS beta,
  round(CASE WHEN strength > 0
    THEN (CAST(successes AS DOUBLE) + mu * strength)
         / (CAST(n AS DOUBLE) + strength)
    ELSE r END, 6) AS shrunk_rate
FROM pri
"""
