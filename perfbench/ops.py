"""The benchmark's operations: query builders on the public ``ibis_spark``
API, each with the DuckDB SQL that computes the same answer.

The builders are ports of the matching ``__spark_entry__.queries()``
entries and their ``oracle_sql()`` text, kept here so that the benchmark
does not move when the entry file is edited.  A builder takes the opened
source tables (``src``, a dict of ``ibis_spark.Table``) and the session,
and returns an unexecuted ``Table``; running it is the harness's job.

``Op.sink`` says how a result leaves Spark: ``"collect"`` is
``Table.execute()``, ``"write"`` is ``Table.to_parquet()``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import pyspark.sql.functions as F

import ibis_spark as ib
from ibis_spark import pipeline as pl
from ibis_spark.expr.core import unwrap, wrap


@dataclass(frozen=True)
class Op:
    name: str
    build: Callable
    oracle: str
    tables: tuple[str, ...]
    sink: str = "collect"


# ---------------------------------------------------------------------------
# interactive: TPC-H / DS derivatives, windows, joins, subqueries, text,
# events and geo shapes at sf0.01
# ---------------------------------------------------------------------------

def _q1(src, spark):
    t = src["lineitem"]
    t = t.filter(t.l_shipdate <= "1998-09-02")
    return (
        t.group_by("l_returnflag", "l_linestatus")
        .aggregate(
            sum_qty=t.l_quantity.sum().round(2),
            sum_base_price=t.l_extendedprice.sum().round(2),
            sum_disc_price=(t.l_extendedprice * (1 - t.l_discount)).sum().round(2),
            sum_charge=(t.l_extendedprice * (1 - t.l_discount) * (1 + t.l_tax)).sum().round(2),
            avg_qty=t.l_quantity.mean().round(4),
            avg_price=t.l_extendedprice.mean().round(4),
            avg_disc=t.l_discount.mean().round(4),
            count_order=t.l_quantity.count(),
        )
        .order_by("l_returnflag", "l_linestatus")
    )


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_extendedprice), 4) AS avg_price,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       COUNT(l_quantity) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def _q21(src, spark):
    li, o, s = src["lineitem"], src["orders"], src["supplier"]
    lo = li.join(o.filter(o.o_orderstatus == "F"), [("l_orderkey", "o_orderkey")])
    late = lo.filter(lo.l_shipdate > lo.o_orderdate + ib.interval(days=60)).select(
        "l_orderkey", "l_suppkey"
    )
    t1 = late.filter(
        ib.exists(li, lambda a, l: (a.l_orderkey == l.l_orderkey) & (a.l_suppkey != l.l_suppkey))
    )
    t1 = t1.filter(
        ~ib.exists(
            late.view(),
            lambda a, l3: (a.l_orderkey == l3.l_orderkey) & (a.l_suppkey != l3.l_suppkey),
        )
    )
    j = t1.join(s, [("l_suppkey", "s_suppkey")], broadcast=True)
    return (
        j.group_by("s_name")
        .aggregate(numwait=j.l_orderkey.nunique())
        .order_by(ib.desc("numwait"), "s_name")
        .limit(20)
    )


_Q21_SQL = """
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
SELECT s_name, COUNT(DISTINCT l_orderkey) AS numwait
FROM late l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


def _window_rank(src, spark):
    c = src["customer"]
    w = ib.window(group_by=c.c_nationkey, order_by=c.c_acctbal.desc())
    return c.mutate(rnk=ib.rank().over(w)).select("c_custkey", "c_nationkey", "rnk")


_WINDOW_RANK_SQL = """
SELECT c_custkey, c_nationkey,
       RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) - 1 AS rnk
FROM customer
"""


def _join_asof(src, spark):
    e = src["events"]
    views = e.filter(e.event_type == "view").select("event_id", "user_id", "ts", "value")
    buys = e.filter(e.event_type == "purchase").select("user_id", "ts", "value")
    j = views.asof_join(buys, on="ts", by="user_id")
    return j.select("event_id", "user_id", "ts", "value", "value_right", "ts_right")


_JOIN_ASOF_SQL = """
SELECT l.event_id, l.user_id, l.ts, l.value, r.value AS value_right, r.ts AS ts_right
FROM (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view') l
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def _scalar_subquery(src, spark):
    li = src["lineitem"]
    avg_q = li.to_scalar(li.l_quantity.mean())
    return li.filter(li.l_quantity < avg_q * 0.5).select("l_orderkey", "l_linenumber", "l_quantity")


_SCALAR_SUBQUERY_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
WHERE l_quantity < (SELECT AVG(l_quantity) FROM lineitem) * 0.5
"""


def _tfidf(src, spark):
    out = pl.tfidf(src["documents"], "text", "doc_id")
    return out.filter(out.doc_id < 50)


def _det_ln_sql(mm_expr: str) -> str:
    """DuckDB mirror of the engine's libm-free ``ln(mm)`` (only correctly
    rounded IEEE ops, same Horner order), so both sides agree bit for bit."""
    return f"""
      (SELECT 2.0 * z * ((((((0.07692307692307693 * z2 + 0.09090909090909091)
                 * z2 + 0.1111111111111111) * z2 + 0.14285714285714285)
                 * z2 + 0.2) * z2 + 0.3333333333333333) * z2 + 1.0)
              + CAST(e AS DOUBLE) * 0.6931471805599453
       FROM (SELECT z, z*z AS z2, e FROM
             (SELECT (f - 1.0) / (f + 1.0) AS z, e FROM
              (SELECT CAST(mm AS DOUBLE) / CAST((1::BIGINT << e) AS DOUBLE) AS f, e FROM
               (SELECT mm, CAST(length(bin(mm)) - 1 AS INTEGER) AS e FROM
                (SELECT ({mm_expr}) AS mm))))))"""


_TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         UNNEST(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, term),
df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n FROM documents)
SELECT t.doc_id, t.term, t.tf, d.df,
       CAST(t.tf AS DOUBLE) * ({_det_ln_sql("n.n")} - {_det_ln_sql("d.df")}) AS tfidf
FROM tf t JOIN df d USING(term) CROSS JOIN n
WHERE t.doc_id < 50
"""


def _funnel(src, spark):
    return pl.funnel(src["events"], "ts", "user_id", ["view", "click", "purchase"])


_FUNNEL_SQL = """
WITH e AS (
  SELECT user_id, ts, event_type FROM events
  WHERE event_type IN ('view', 'click', 'purchase')),
a AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
  FROM e GROUP BY user_id),
b AS (
  SELECT e.user_id, MIN(CASE WHEN event_type = 'click' AND ts >= t1 THEN ts END) AS t2
  FROM e JOIN a USING (user_id) GROUP BY e.user_id),
c AS (
  SELECT e.user_id, MIN(CASE WHEN event_type = 'purchase' AND ts >= t2 THEN ts END) AS t3
  FROM e JOIN b USING (user_id) GROUP BY e.user_id)
SELECT a.user_id,
       CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS depth,
       a.t1 AS t_view, b.t2 AS t_click, c.t3 AS t_purchase
FROM a JOIN b USING (user_id) JOIN c USING (user_id)
"""


def _geo_line_metrics(src, spark):
    import ibis_spark.geo as geo

    o = src["orders"].repartition(spark.sparkContext.defaultParallelism)
    k = (o.o_orderkey % 100).cast("float64")
    line = geo.geo_linestring(
        ib.array(k, k + 3.0, k + 9.0),
        ib.array(k - k, k - k + 4.0, k - k - 4.0),
        decoded=True,
    )
    o = o.mutate(line=line)
    o = o.mutate(flipped=geo.geo_flip_coordinates(o.line))
    return o.select(
        "o_orderkey",
        length=geo.geo_length(o.line),
        npts=geo.geo_n_points(o.line),
        sx=geo.geo_x(geo.geo_start_point(o.line)),
        ey=geo.geo_y(geo.geo_end_point(o.line)),
        p2x=geo.geo_x(geo.geo_point_n(o.line, 2)),
        fy=geo.geo_y(geo.geo_end_point(o.flipped)),
        typ=geo.geo_geometry_type(o.line),
    )


_GEO_LINE_METRICS_SQL = """
SELECT o_orderkey,
       CAST(15.0 AS DOUBLE) AS length,
       CAST(3 AS BIGINT) AS npts,
       CAST(o_orderkey % 100 AS DOUBLE) AS sx,
       CAST(-4.0 AS DOUBLE) AS ey,
       CAST(o_orderkey % 100 AS DOUBLE) + 3.0 AS p2x,
       CAST(o_orderkey % 100 AS DOUBLE) + 9.0 AS fy,
       'LINESTRING' AS typ
FROM orders
"""


def _ds_rollup_report(src, spark):
    c, o, n = src["customer"], src["orders"], src["nation"]
    j = c.inner_join(o, [("c_custkey", "o_custkey")]).inner_join(n, [("c_nationkey", "n_nationkey")])
    j = j.filter(j.o_orderdate < "1997-01-01")
    return j.rollup("n_name", "c_mktsegment").aggregate(
        avg_price=j.o_totalprice.mean().round(4),
        avg_acctbal=j.c_acctbal.mean().round(4),
        total=j.o_totalprice.sum().round(2),
        n_orders=j.o_orderkey.count(),
    )


_DS_ROLLUP_REPORT_SQL = """
SELECT n_name, c_mktsegment,
       ROUND(AVG(o_totalprice), 4) AS avg_price,
       ROUND(AVG(c_acctbal), 4) AS avg_acctbal,
       ROUND(SUM(o_totalprice), 2) AS total,
       COUNT(o_orderkey) AS n_orders
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate < '1997-01-01'
GROUP BY ROLLUP(n_name, c_mktsegment)
"""


def _udf_pandas(src, spark):
    from ibis_spark import udf

    @udf.scalar.pandas
    def norm_text(s) -> str:
        return s.str.strip().str.lower().str.replace("widget", "gadget", regex=False)

    p = src["part"]
    return p.select("p_partkey", normed=norm_text(p.p_name))


_UDF_PANDAS_SQL = """
SELECT p_partkey, REPLACE(LOWER(TRIM(p_name)), 'widget', 'gadget') AS normed
FROM part
"""


INTERACTIVE = [
    Op("q1", _q1, _Q1_SQL, ("lineitem",)),
    Op("q21_suppliers_kept_waiting", _q21, _Q21_SQL, ("lineitem", "orders", "supplier")),
    Op("window_rank", _window_rank, _WINDOW_RANK_SQL, ("customer",)),
    Op("join_asof", _join_asof, _JOIN_ASOF_SQL, ("events",)),
    Op("scalar_subquery", _scalar_subquery, _SCALAR_SUBQUERY_SQL, ("lineitem",)),
    Op("tfidf", _tfidf, _TFIDF_SQL, ("documents",)),
    Op("funnel", _funnel, _FUNNEL_SQL, ("events",)),
    Op("geo_line_metrics", _geo_line_metrics, _GEO_LINE_METRICS_SQL, ("orders",)),
    # the one export in a session: the report is saved, not looked at
    Op("ds_rollup_report", _ds_rollup_report, _DS_ROLLUP_REPORT_SQL,
       ("customer", "orders", "nation"), sink="write"),
    Op("udf_pandas", _udf_pandas, _UDF_PANDAS_SQL, ("part",)),
]


# ---------------------------------------------------------------------------
# llm_pipeline: corpus curation stages over documents + embeddings
# ---------------------------------------------------------------------------

def _gopher_filter(src, spark):
    out = pl.gopher_filter(src["documents"], "text")
    return out.select(
        "doc_id", "ok_words", "ok_mean_word_len", "ok_symbol_ratio",
        "ok_alpha_words", "ok_stopwords", "gopher_pass",
    )


_GOPHER_FILTER_SQL = """
SELECT doc_id,
       n BETWEEN 50 AND 100000 AS ok_words,
       mean_len BETWEEN 3.0 AND 10.0 AS ok_mean_word_len,
       n_symbols / sn <= 0.1 AS ok_symbol_ratio,
       alpha_words / sn >= 0.8 AS ok_alpha_words,
       n_stop >= 2 AS ok_stopwords,
       (n BETWEEN 50 AND 100000) AND (mean_len BETWEEN 3.0 AND 10.0)
         AND (n_symbols / sn <= 0.1) AND (alpha_words / sn >= 0.8)
         AND (n_stop >= 2) AS gopher_pass
FROM (
  SELECT doc_id, len(toks) AS n,
         GREATEST(CAST(len(toks) AS DOUBLE), 1.0) AS sn,
         CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
           / GREATEST(CAST(len(toks) AS DOUBLE), 1.0) AS mean_len,
         CAST(len(string_split(text, '#')) - 1 + len(string_split(text, '...')) - 1
              AS DOUBLE) AS n_symbols,
         CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) AS alpha_words,
         len(list_intersect(list_distinct(toks),
             ['the','be','to','of','and','that','have','with'])) AS n_stop
  FROM (
    SELECT doc_id, text,
           list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
    FROM documents
  )
)
"""


def _redact(src, spark):
    d = src["documents"]
    did = F.col("doc_id").cast("string")
    pii = wrap(
        F.concat(
            F.col("text"),
            F.lit(" contact user"), did, F.lit("@example.com or http://ex.io/p?id="),
            did, F.lit(" tel +1 (555) 010-"), did,
        )
    )
    return d.select("doc_id", red=pl.redact(pii))


_REDACT_SQL = """
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or http://ex.io/p?id=' || CAST(doc_id AS VARCHAR)
              || ' tel +1 (555) 010-' || CAST(doc_id AS VARCHAR),
         'https?://[^\\s]+', '[URL]', 'g'),
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
         '\\+?[0-9][0-9()\\s.-]{6,}[0-9]', '[PHONE]', 'g') AS red
FROM documents
"""


def _minhash_dedup_verified(src, spark):
    out = pl.minhash_dedup_verified(
        src["documents"], "text", "doc_id", num_hashes=64, bands=16, threshold=0.7,
        verify="exact",
    )
    return out.select("doc_id", "rep_id", "is_dup")


# Exact char-4-shingle Jaccard >= 0.7 over all pairs.  Candidates come
# from the prefix filter of set-similarity joins: with shingles ordered
# rarest first, two sets with Jaccard >= t share a shingle among the
# first n - ceil(t * n) + 1 of either set, so no qualifying pair is
# missed; each candidate is then verified exactly.  Same answer as
# comparing every pair, without the quadratic list_intersect.
_MINHASH_DEDUP_VERIFIED_SQL = """
WITH sh AS (
  SELECT doc_id, grams, len(grams) AS n FROM (
    SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(length(text) - 3, 1) + 1), i -> text[i:i+3])) AS grams
    FROM documents)
), g AS (
  SELECT doc_id, n, UNNEST(grams) AS gram FROM sh
), df AS (
  SELECT gram, COUNT(*) AS df FROM g GROUP BY gram
), prefix AS (
  SELECT doc_id, gram FROM (
    SELECT g.doc_id, g.gram, g.n,
           ROW_NUMBER() OVER (PARTITION BY g.doc_id ORDER BY df.df, g.gram) AS r
    FROM g JOIN df USING (gram))
  WHERE r <= n - CAST(ceil(0.7 * n) AS BIGINT) + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS x, b.doc_id AS y
  FROM prefix a JOIN prefix b ON a.gram = b.gram AND a.doc_id <> b.doc_id
), inter AS (
  SELECT c.x, c.y, COUNT(*) AS k
  FROM cand c JOIN g a ON a.doc_id = c.x JOIN g b ON b.doc_id = c.y AND b.gram = a.gram
  GROUP BY c.x, c.y
), pairs AS (
  SELECT i.x, i.y
  FROM inter i JOIN sh a ON a.doc_id = i.x JOIN sh b ON b.doc_id = i.y
  WHERE a.n >= 0.7 * b.n AND b.n >= 0.7 * a.n
    AND i.k * 1.0 / greatest(a.n + b.n - i.k, 1) >= 0.7
)
SELECT d.doc_id,
       LEAST(d.doc_id, COALESCE(MIN(p.y), d.doc_id)) AS rep_id,
       LEAST(d.doc_id, COALESCE(MIN(p.y), d.doc_id)) <> d.doc_id AS is_dup
FROM documents d LEFT JOIN pairs p ON p.x = d.doc_id
GROUP BY d.doc_id
"""


def _line_dedup(src, spark):
    prep = src["documents"].sql(
        "SELECT doc_id, concat_ws('\\n', "
        " array_join(slice(split(text, ' '), 1, 18), ' '), "
        " array_join(slice(split(text, ' '), 19, 18), ' '), "
        " array_join(slice(split(text, ' '), 37, size(split(text, ' '))), ' ')) AS text "
        "FROM t"
    )
    return pl.line_dedup(prep, "text", "doc_id")


_LINE_DEDUP_SQL = """
WITH prep AS (
  SELECT doc_id, concat_ws(chr(10),
           COALESCE(array_to_string(toks[1:18], ' '), ''),
           COALESCE(array_to_string(toks[19:36], ' '), ''),
           COALESCE(array_to_string(toks[37:], ' '), '')) AS text
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
lines AS (
  SELECT doc_id, i - 1 AS pos, parts[i] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM prep),
       UNNEST(range(1, len(parts) + 1)) AS u(i)),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
  FROM lines)
SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
FROM ranked WHERE rn = 1 GROUP BY doc_id
"""


BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("o", "n"),
    ("a", "n"), ("an", "d"), (" ", "t"), (" t", "h"), (" th", "e"),
    ("r", "e"), ("e", "d"), (" ", "a"), (" a", "n"), (" an", "d"),
]


def _bpe_encode(src, spark):
    d = src["documents"]
    # udf_threshold=0 takes the Arrow-batched pandas UDF path; it is
    # token-identical to the JVM replace chain the oracle mirrors
    toks = unwrap(pl.bpe_encode(d.text, BPE_MERGES, udf_threshold=0))
    return d.select(
        "doc_id",
        n_bpe=wrap(F.array_size(toks)),
        head=wrap(F.array_join(F.slice(toks, 1, 8), "\x1f")),
    )


def _bpe_sql() -> str:
    def lit(s):
        parts, buf = [], ""
        for ch in s:
            if ch == "\x01":
                if buf:
                    parts.append("'" + buf.replace("'", "''") + "'")
                    buf = ""
                parts.append("chr(1)")
            else:
                buf += ch
        if buf:
            parts.append("'" + buf.replace("'", "''") + "'")
        return "||".join(parts)

    pretok_re = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
    expr = (
        "array_to_string(list_transform(regexp_extract_all("
        "replace(text, chr(1), ''), '" + pretok_re.replace("'", "''") + "'), "
        "t -> chr(1)||chr(1)||regexp_replace(t, '(?s)(.)', "
        "'\\1'||chr(1)||chr(1), 'g')), '')"
    )
    S = "\x01"
    for a, b in BPE_MERGES:
        expr = f"replace({expr}, {lit(S + a + S + S + b + S)}, {lit(S + a + b + S)})"
    return f"""
SELECT doc_id,
       CAST(len(toks) AS INT) AS n_bpe,
       COALESCE(array_to_string(toks[1:8], chr(31)), '') AS head
FROM (
  SELECT doc_id, list_filter(string_split_regex({expr}, chr(1)||'+'), x -> x <> '') AS toks
  FROM documents
)
"""


def _pack_sequences(src, spark):
    d = src["documents"]
    t2 = d.select("doc_id", shard=d.doc_id % 8, cnt=pl.token_count(d.text))
    return pl.pack_sequences(t2, "cnt", "doc_id", 512, by="shard")


_PACK_SEQUENCES_SQL = """
WITH RECURSIVE s AS (
  SELECT doc_id, doc_id % 8 AS shard,
         CAST(len(string_split_regex(text, '\\s+')) AS INT) AS cnt,
         ROW_NUMBER() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
  FROM documents),
rec AS (
  SELECT shard, rn, doc_id, cnt, CAST(0 AS BIGINT) AS bin_id, cnt AS acc
  FROM s WHERE rn = 1
  UNION ALL
  SELECT s.shard, s.rn, s.doc_id, s.cnt,
         CASE WHEN r.acc + s.cnt <= 512 THEN r.bin_id ELSE r.bin_id + 1 END,
         CASE WHEN r.acc + s.cnt <= 512 THEN r.acc + s.cnt ELSE s.cnt END
  FROM rec r JOIN s ON s.shard = r.shard AND s.rn = r.rn + 1)
SELECT doc_id, shard, cnt, bin_id FROM rec
"""


def _ann_cosine_topk(src, spark):
    e = src["embeddings"]
    # the query vector is fetched while building: a Spark job in build
    qvec = [float(v) for v in e.filter(e.vec_id == 0).to_spark().first()["embedding"]]
    sim = pl.cosine_similarity(e.embedding, ib.array(*qvec))
    return e.select("vec_id", sim=sim.round(6)).order_by(ib.desc("sim"), "vec_id").limit(10)


_ANN_COSINE_TOPK_SQL = """
SELECT vec_id,
       ROUND(LIST_COSINE_SIMILARITY(embedding::DOUBLE[],
             (SELECT embedding FROM embeddings WHERE vec_id = 0)::DOUBLE[]), 6) AS sim
FROM embeddings ORDER BY sim DESC, vec_id LIMIT 10
"""


LLM_PIPELINE = [
    Op("gopher_filter", _gopher_filter, _GOPHER_FILTER_SQL, ("documents",), "write"),
    Op("redact", _redact, _REDACT_SQL, ("documents",), "write"),
    Op("minhash_dedup_verified", _minhash_dedup_verified, _MINHASH_DEDUP_VERIFIED_SQL,
       ("documents",), "write"),
    Op("line_dedup", _line_dedup, _LINE_DEDUP_SQL, ("documents",), "write"),
    Op("bpe_encode", _bpe_encode, _bpe_sql(), ("documents",), "write"),
    Op("pack_sequences", _pack_sequences, _PACK_SEQUENCES_SQL, ("documents",), "write"),
    # a nearest-neighbour lookup is read, not stored
    Op("ann_cosine_topk", _ann_cosine_topk, _ANN_COSINE_TOPK_SQL, ("embeddings",)),
]
