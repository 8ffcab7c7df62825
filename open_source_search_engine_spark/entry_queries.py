"""Driver-contract query battery: one entry per implemented operator of
SURVEY.md §2, each with a DuckDB-oracle SQL twin (value-hash compared at
sf=0.01 by the driver).

Parity rules applied throughout (see SURVEY.md §7.5):
- every computed column aliased identically on both sides;
- doubles rounded (4 dp; money 2 dp) AFTER aggregation on both sides —
  summation order differs between engines, rounding absorbs the ulps;
- LIMIT queries carry a total deterministic ORDER BY;
- identical literal structure in float math (e.g. ``2.2`` both sides, not
  ``k1+1`` on one side);
- timestamps projected as formatted strings (Spark session TZ = UTC,
  DuckDB naive — strings compare exactly).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .operators import dedup, similarity, textstats

TOKEN_RE = "[a-z0-9]+"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # the driver supplies its own session: pin the two confs correctness
    # depends on (ICU case-mapping hangs this VM; TZ must match DuckDB's
    # naive timestamps).  Both are runtime-settable SQL confs.
    try:
        spark.conf.set("spark.sql.icu.caseMappings.enabled", "false")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _toks(col: str = "text") -> F.Column:
    return F.regexp_extract_all(F.lower(F.col(col)), F.lit(TOKEN_RE), F.lit(0))


# ---------------------------------------------------------------------------
# BM25 ad-hoc plan over the driver `documents` table (doc_id, text, ...):
# fully declarative — tokenize/tf/df/stats/score all Catalyst-planned —
# used by the oracle-checked search queries.  The engine-index path
# (plans.exec.search) covers the same math over stored postings.
# ---------------------------------------------------------------------------
def bm25_adhoc(
    spark: SparkSession,
    sf_dir: str,
    terms: list[str],
    k: int = 10,
    mode: str = "and",  # "and" | "or"
    neg_terms: list[str] | None = None,
    lang: str | None = None,
) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    if lang is not None:
        docs = docs.filter(F.col("lang") == lang)
    d = docs.select(
        "doc_id", _toks().alias("toks")
    ).withColumn("doclen", F.size("toks").cast("double"))
    stats = d.agg(
        F.count("*").cast("double").alias("n"), F.avg("doclen").alias("avgdl")
    )
    occ = d.select("doc_id", "doclen", F.explode("toks").alias("term"))
    tf = (
        occ.filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term", "doclen")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    dfx = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    contrib = F.log(
        F.lit(1.0) + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    ) * F.col("tf") * F.lit(2.2) / (
        F.col("tf")
        + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * F.col("doclen") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(dfx), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("contrib", contrib)
        .groupBy("doc_id")
        .agg(F.count("*").alias("nt"), F.sum("contrib").alias("s"))
    )
    scored = scored.filter(
        F.col("nt") == len(terms) if mode == "and" else F.col("nt") >= 1
    )
    if neg_terms:
        neg_docs = occ.filter(F.col("term").isin(neg_terms)).select("doc_id").distinct()
        scored = scored.join(neg_docs, "doc_id", "left_anti")
    return (
        scored.select("doc_id", F.round(F.col("s"), 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_oracle_sql(
    terms: list[str],
    k: int = 10,
    mode: str = "and",
    neg_terms: list[str] | None = None,
    lang: str | None = None,
) -> str:
    tl = ", ".join(f"'{t}'" for t in terms)
    where = f"WHERE lang = '{lang}'" if lang else ""
    nt_pred = f"nt = {len(terms)}" if mode == "and" else "nt >= 1"
    neg = ""
    if neg_terms:
        nl = ", ".join(f"'{t}'" for t in neg_terms)
        neg = (
            f" AND doc_id NOT IN (SELECT DISTINCT doc_id FROM occ "
            f"WHERE term IN ({nl}))"
        )
    return f"""
WITH d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents {where}
),
dd AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS doclen, toks FROM d),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(doclen) AS avgdl FROM dd),
occ AS (SELECT doc_id, doclen, unnest(toks) AS term FROM dd),
tf AS (
  SELECT doc_id, term, doclen, CAST(count(*) AS DOUBLE) AS tf
  FROM occ WHERE term IN ({tl})
  GROUP BY doc_id, term, doclen
),
dfx AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, count(*) AS nt,
         sum( ln(1.0 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
              * tf.tf * 2.2
              / (tf.tf + 1.2 * (0.25 + 0.75 * tf.doclen / stats.avgdl)) ) AS s
  FROM tf JOIN dfx USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(s, 4) AS score
FROM scored WHERE {nt_pred}{neg}
ORDER BY score DESC, doc_id
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Relational operators over the TPC-H-ish tables
# ---------------------------------------------------------------------------
def q_agg_pricing(spark, sf_dir):
    """A1/A5: partial->final hash agg (TPC-H Q1 shape)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_AGG_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_topk_orders(spark, sf_dir):
    """T1: bounded top-k (TakeOrderedAndProject = TopTree analog)."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
        .orderBy(F.desc("price"), F.asc("o_orderkey"))
        .limit(10)
    )


SQL_TOPK_ORDERS = """
SELECT o_orderkey, round(o_totalprice, 2) AS price
FROM orders ORDER BY price DESC, o_orderkey LIMIT 10
"""


def q_join_enrich(spark, sf_dir):
    """J5/J9: broadcast-join enrich chain customer->nation->region."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .orderBy("r_name")
    )


SQL_JOIN_ENRICH = """
SELECT r_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS total_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


def q_semi_join(spark, sf_dir):
    """J2: existence semi-join — customers with >=1 urgent order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


SQL_SEMI_JOIN = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
              AND o_orderpriority = '1-URGENT')
ORDER BY c_custkey
"""


def q_anti_join(spark, sf_dir):
    """J3/F3: negation anti-join — customers with no orders at all."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


SQL_ANTI_JOIN = """
SELECT c_custkey FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


def q_window_top2(spark, sf_dir):
    """W1: site-clustering analog — top-2 orders per customer."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select(
            "o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price"), "rn"
        )
        .orderBy("o_custkey", "rn", "o_orderkey")
    )


SQL_WINDOW_TOP2 = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, rn
FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)
WHERE rn <= 2 ORDER BY o_custkey, rn, o_orderkey
"""


def q_latest_wins(spark, sf_dir):
    """U4: multi-run union w/ latest-wins (tombstone resolve) — the
    newest event per user, Iceberg MoR semantics on the events table."""
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        _t(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )
        .orderBy("user_id")
    )


SQL_LATEST_WINS = """
SELECT user_id, event_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
WHERE rn = 1 ORDER BY user_id
"""


def q_facets(spark, sf_dir):
    """A4: facet counts (gbfacetstr analog) over two fields at once."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("facet_count"))
        .orderBy("o_orderstatus", "o_orderpriority")
    )


SQL_FACETS = """
SELECT o_orderstatus, o_orderpriority, count(*) AS facet_count
FROM orders GROUP BY o_orderstatus, o_orderpriority
ORDER BY o_orderstatus, o_orderpriority
"""


def q_numeric_range(spark, sf_dir):
    """F1/F7: key-range + numeric predicates pushed to the scan."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_quantity").between(10, 20))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_extendedprice") > 20000)
        )
        .select("l_orderkey", "l_linenumber", F.round("l_extendedprice", 2).alias("price"))
        .orderBy("l_orderkey", "l_linenumber")
    )


SQL_NUMERIC_RANGE = """
SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
FROM lineitem
WHERE l_quantity BETWEEN 10 AND 20 AND l_discount >= 0.05
  AND l_extendedprice > 20000
ORDER BY l_orderkey, l_linenumber
"""


def q_boolean_or(spark, sf_dir):
    """U1: boolean OR of predicates + facet count."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter((F.col("l_returnflag") == "R") | (F.col("l_linestatus") == "F"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_BOOLEAN_OR = """
SELECT l_returnflag, l_linestatus, count(*) AS cnt
FROM lineitem WHERE l_returnflag = 'R' OR l_linestatus = 'F'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
"""


def q_paging(spark, sf_dir):
    """T3: offset paging (s=/n= CGI params analog)."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
        .orderBy(F.desc("price"), F.asc("o_orderkey"))
        .offset(20)
        .limit(10)
    )


SQL_PAGING = """
SELECT o_orderkey, round(o_totalprice, 2) AS price
FROM orders ORDER BY price DESC, o_orderkey LIMIT 10 OFFSET 20
"""


def q_metrics_rollup(spark, sf_dir):
    """A9/R7: statsdb time-bucket rollup — per-minute event aggregates."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.date_trunc("minute", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("minute"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("minute", "event_type")
    )


SQL_METRICS_ROLLUP = """
SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute,
       event_type, count(*) AS n, round(sum(value), 4) AS total_value
FROM events GROUP BY 1, 2 ORDER BY minute, event_type
"""


def q_json_flatten(spark, sf_dir):
    """X11: JSON field flatten (CT_JSON hashJSONFields analog) — extract
    props.k per event and aggregate per event_type."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


SQL_JSON_FLATTEN = """
SELECT event_type, count(k) AS n, round(avg(k), 4) AS avg_k, max(k) AS max_k
FROM (SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM events)
GROUP BY event_type ORDER BY event_type
"""


def q_total_hits(spark, sf_dir):
    """A6: total-hits estimate -> exact count."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .agg(F.count("*").alias("total_hits"))
    )


SQL_TOTAL_HITS = "SELECT count(*) AS total_hits FROM lineitem WHERE l_returnflag = 'R'"


def q_set_ops(spark, sf_dir):
    """U2: intersect/except — customers in both urgent & high priority."""
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    high = o.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    return urgent.intersect(high).orderBy("o_custkey")


SQL_SET_OPS = """
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
ORDER BY o_custkey
"""


def q_sortby_field(spark, sf_dir):
    """T4: gbsortby numeric-field ordering."""
    return (
        _t(spark, sf_dir, "part")
        .select("p_partkey", "p_size", F.round("p_retailprice", 2).alias("price"))
        .orderBy(F.asc("p_size"), F.desc("price"), F.asc("p_partkey"))
        .limit(25)
    )


SQL_SORTBY_FIELD = """
SELECT p_partkey, p_size, round(p_retailprice, 2) AS price
FROM part ORDER BY p_size ASC, price DESC, p_partkey LIMIT 25
"""


# ---------------------------------------------------------------------------
# Search operators over the driver `documents` table
# ---------------------------------------------------------------------------
def q_tf(spark, sf_dir):
    """A1 from the STORED index: tf per (term, doc) for one term — a
    pruned postings scan + Arrow block decode, not a corpus re-tokenize
    (the oracle recomputes from raw text independently)."""
    from .engine_entries import engine_index
    from .operators.merge import term_postings
    from .plans.exec import _stats_cached

    idx = engine_index(spark, sf_dir)
    _n, _a, stats = _stats_cached(spark, idx, ["table"])
    if "table" not in stats:
        return spark.createDataFrame([], "doc_id long, tf long")
    rows = term_postings(spark, idx, [stats["table"][0]])
    return rows.select(
        "doc_id", F.col("tf").cast("long").alias("tf")
    ).orderBy("doc_id")


SQL_TF = f"""
SELECT doc_id, count(*) AS tf
FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term
      FROM documents)
WHERE term = 'table' GROUP BY doc_id ORDER BY doc_id
"""


def q_termstats(spark, sf_dir):
    """A2 from the STORED stats tables: df/cf per term (getTermFreq) —
    reads the index's termstats snapshot, no corpus scan."""
    from .engine_entries import engine_index

    idx = engine_index(spark, sf_dir)
    ts = idx.termstats.read(spark)
    return (
        ts.filter(F.col("term").isin(["spark", "join", "table", "vector", "stream"]))
        .select(
            "term",
            F.col("df").cast("long").alias("df"),
            F.col("cf").cast("long").alias("cf"),
        )
        .orderBy("term")
    )


SQL_TERMSTATS = f"""
SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf
FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term
      FROM documents)
WHERE term IN ('spark', 'join', 'table', 'vector', 'stream')
GROUP BY term ORDER BY term
"""


def q_collstats(spark, sf_dir):
    """A3 from the STORED collection totals in the index manifest: N +
    avgdl."""
    from .engine_entries import engine_index

    n_docs, avgdl = engine_index(spark, sf_dir).view().coll_stats()
    return spark.createDataFrame(
        [(n_docs, avgdl)], "n_docs long, avgdl double"
    ).select("n_docs", F.round(F.col("avgdl"), 4).alias("avgdl"))


SQL_COLLSTATS = f"""
SELECT count(*) AS n_docs,
       round(avg(CAST(len(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS DOUBLE)), 4) AS avgdl
FROM documents
"""


def q_bm25_single(spark, sf_dir):
    return bm25_adhoc(spark, sf_dir, ["spark"], k=10)


def q_bm25_and2(spark, sf_dir):
    return bm25_adhoc(spark, sf_dir, ["spark", "join"], k=10)


def q_bm25_and3(spark, sf_dir):
    return bm25_adhoc(spark, sf_dir, ["hash", "merge", "sort"], k=10)


def q_bm25_neg(spark, sf_dir):
    return bm25_adhoc(spark, sf_dir, ["table"], k=10, neg_terms=["join"])


def q_bm25_or(spark, sf_dir):
    return bm25_adhoc(spark, sf_dir, ["vector", "stream"], k=10, mode="or")


def q_bm25_lang(spark, sf_dir):
    """F4/F6: fielded restriction — BM25 within lang='en' docs."""
    return bm25_adhoc(spark, sf_dir, ["query"], k=10, lang="en")


def q_phrase(spark, sf_dir):
    """J4: positional phrase — docs containing the exact token sequence."""
    docs = _t(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    return (
        docs.filter(F.contains(padded, F.lit(" fast table ")))
        .select("doc_id")
        .orderBy("doc_id")
    )


SQL_PHRASE = """
SELECT doc_id FROM documents
WHERE contains(' ' || lower(text) || ' ', ' fast table ')
ORDER BY doc_id
"""


def q_gigabits(spark, sf_dir):
    """A7 index-backed: related terms over docs matching 'spark' — the
    match set comes from a pruned postings seek (no corpus-wide predicate
    scan); only the matched docs' text is then fetched and tokenized."""
    from .engine_entries import engine_index
    from .plans.query import terms_plan
    from .plans.reindex import match_docs

    idx = engine_index(spark, sf_dir)
    cand = match_docs(spark, idx, terms_plan(["spark"]))
    docs = _t(spark, sf_dir, "documents").join(F.broadcast(cand), "doc_id")
    return (
        docs.select(F.explode(_toks()).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(20)
    )


SQL_GIGABITS = f"""
WITH matched AS (
  SELECT text FROM documents
  WHERE list_contains(regexp_extract_all(lower(text), '{TOKEN_RE}'), 'spark')
)
SELECT term, count(*) AS cnt
FROM (SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term FROM matched)
GROUP BY term ORDER BY cnt DESC, term LIMIT 20
"""


# ---------------------------------------------------------------------------
# Training-data pipeline operators
# ---------------------------------------------------------------------------
def q_dedup_exact(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        dedup.exact_dedup_groups(docs, "doc_id", "text")
        .orderBy("text_md5")
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_md5, count(*) AS n_dups, min(doc_id) AS canonical_id
FROM documents GROUP BY md5(text) ORDER BY text_md5
"""


def q_ngram_jaccard(spark, sf_dir):
    """n-gram Jaccard near-dup pairs: top-20 most similar doc pairs."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3)
    return (
        pairs.select("a", "b", F.round("jaccard", 4).alias("jaccard"))
        .orderBy(F.desc("jaccard"), F.asc("a"), F.asc("b"))
        .limit(20)
    )


SQL_NGRAM_JACCARD = f"""
WITH d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(toks) >= 3 THEN
           list_transform(range(len(toks) - 2),
             i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
           ELSE [] END) AS grams
  FROM d
),
sizes AS (SELECT doc_id, len(grams) AS nsh FROM sh),
inv AS (SELECT doc_id, unnest(grams) AS g FROM sh),
inter AS (
  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS inter
  FROM inv l JOIN inv r ON l.g = r.g AND l.doc_id < r.doc_id
  GROUP BY l.doc_id, r.doc_id
)
SELECT a, b,
       round(CAST(inter AS DOUBLE) / (sa.nsh + sb.nsh - inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
ORDER BY jaccard DESC, a, b LIMIT 20
"""


def q_decontam_ngram(spark, sf_dir):
    """train/test decontamination: train docs sharing >=1 distinct 8-gram
    with the eval split (doc_id % 10 == 0 plays the eval set — the split
    rule is engine-portable so the oracle replays it exactly).  The eval
    gram set is broadcast; the train corpus is never shuffled."""
    from .operators import decontam

    docs = _t(spark, sf_dir, "documents")
    is_test = F.col("doc_id") % 10 == 0
    report = decontam.decontaminate(
        docs.where(~is_test), docs.where(is_test), "doc_id", "text", n=8
    )
    return report.orderBy("doc_id")


SQL_DECONTAM_NGRAM = f"""
WITH d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks,
         (doc_id % 10 = 0) AS is_test
  FROM documents
),
sh AS (
  SELECT doc_id, is_test,
         list_distinct(CASE WHEN len(toks) >= 8 THEN
           list_transform(range(len(toks) - 7),
             i -> list_aggregate(toks[i+1:i+8], 'string_agg', ' '))
           ELSE [] END) AS grams
  FROM d
),
test_grams AS (SELECT DISTINCT unnest(grams) AS g FROM sh WHERE is_test),
train AS (
  SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS g
  FROM sh WHERE NOT is_test
)
SELECT t.doc_id, count(*) AS n_hit, any_value(t.n_grams) AS n_grams,
       round(CAST(count(*) AS DOUBLE) / any_value(t.n_grams), 4) AS hit_ratio
FROM train t JOIN test_grams USING (g)
GROUP BY t.doc_id HAVING count(*) >= 1 ORDER BY doc_id
"""


def q_semantic_decontam(spark, sf_dir):
    """SEMANTIC train/test decontamination: train vectors within cosine
    0.3 of ANY eval vector (vec_id % 10 == 0 plays the eval split, the
    same engine-portable rule as decontam_ngram) -> (vec_id, n_hits,
    max_cosine).  The eval matrix is broadcast into a nested-loop join
    against the train scan — the train side is never shuffled; cosines
    round to 4dp before threshold/max so the oracle replays membership
    bit-exactly (the pairwise_cosine convention)."""
    from .operators import decontam

    emb = _t(spark, sf_dir, "embeddings")
    is_eval = F.col("vec_id") % 10 == 0
    report = decontam.decontaminate_semantic(
        emb.where(~is_eval), emb.where(is_eval), "vec_id", "embedding", 0.3
    )
    return report.orderBy("vec_id")


def _frontier_requests(spark, sf_dir):
    """Deterministic spiderdb-shaped frontier derived from the events
    table (host=ip bucket, priority from event class, synthetic error
    counts) — the derivation is plain arithmetic so the oracle replays
    it exactly."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.pmod(F.col("user_id"), F.lit(20)).alias("host"),
        F.col("event_id").alias("url_id"),
        F.col("ts").alias("added_ts"),
        F.when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "click", 1)
        .otherwise(0)
        .alias("priority"),
        F.pmod(F.col("event_id"), F.lit(6)).alias("err_count"),
    )


_FRONTIER_NOW = "2024-01-20 00:00:00"
_FRONTIER_REQ_SQL = """
  SELECT user_id % 20 AS host, event_id AS url_id, ts AS added_ts,
         CASE event_type WHEN 'error' THEN 2 WHEN 'click' THEN 1 ELSE 0 END
           AS priority,
         event_id % 6 AS err_count
  FROM events
"""


def q_frontier_dole(spark, sf_dir):
    """doledb dequeue (R5): top-2 eligible requests per host at a fixed
    'now' — priority desc, FIFO within priority, exponential error
    backoff, err>4 given up."""
    from .operators import frontier

    req = _frontier_requests(spark, sf_dir)
    out = frontier.dole_ready(
        req, _FRONTIER_NOW, k_per_host=2, backoff_base_secs=86400, max_err=4
    )
    # timestamps cross the hash gate as formatted strings (module parity
    # rule: Spark TZ-aware vs DuckDB naive stringification must not be
    # able to diverge)
    return out.withColumn(
        "added_ts", F.date_format("added_ts", "yyyy-MM-dd HH:mm:ss")
    ).orderBy("host", "dole_rank")


SQL_FRONTIER_DOLE = f"""
WITH req AS ({_FRONTIER_REQ_SQL}),
elig AS (
  SELECT * FROM req
  WHERE err_count <= 4
    AND floor(epoch(added_ts))
        + CASE WHEN err_count <= 0 THEN 0
               ELSE 86400 * pow(2, err_count - 1) END
        <= floor(epoch(TIMESTAMP '{_FRONTIER_NOW}'))
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY host ORDER BY priority DESC, added_ts ASC, url_id ASC
    ) AS dole_rank
  FROM elig
)
SELECT host, url_id, priority,
       strftime(added_ts, '%Y-%m-%d %H:%M:%S') AS added_ts,
       err_count, dole_rank
FROM ranked WHERE dole_rank <= 2 ORDER BY host, dole_rank
"""


def q_frontier_quota(spark, sf_dir):
    """waiting-tree counts (A8): pending per (host, priority) + remaining
    per-host quota."""
    from .operators import frontier

    req = _frontier_requests(spark, sf_dir)
    return frontier.spider_quota_stats(req, quota_per_host=600).orderBy(
        "host", "priority"
    )


SQL_FRONTIER_QUOTA = f"""
WITH req AS ({_FRONTIER_REQ_SQL}),
per_prio AS (
  SELECT host, priority, count(*) AS n_pending
  FROM req GROUP BY host, priority
)
SELECT host, priority, n_pending,
       CAST(600 - sum(n_pending) OVER (PARTITION BY host) AS BIGINT)
         AS quota_remaining
FROM per_prio ORDER BY host, priority
"""


def q_fetch_sim(spark, sf_dir):
    """S9 fetch pipeline on the fake transport: frontier dequeue ->
    robots exclusion (broadcast anti-join) -> Arrow-batched fetch kernel.
    Status/content are closed-form functions of the URL, so even the
    stubbed transport is oracle-certified end to end."""
    from .operators import frontier
    from .sources import fetch as fetchmod

    req = _frontier_requests(spark, sf_dir)
    doled = frontier.dole_ready(
        req, _FRONTIER_NOW, k_per_host=2, backoff_base_secs=86400, max_err=4
    ).withColumn(
        "url",
        F.concat_ws(
            "",
            F.lit("http://h"),
            F.col("host").cast("string"),
            F.lit(".example/p/"),
            F.col("url_id").cast("string"),
        ),
    )
    robots = spark.createDataFrame(
        [(h, f"http://h{h}.example/p/1") for h in range(0, 20, 5)],
        "host long, disallow_prefix string",
    )
    allowed = fetchmod.robots_filter(doled, robots)
    return fetchmod.fetch_documents(allowed, fetcher="fake").orderBy("url")


SQL_FETCH_SIM = f"""
WITH req AS ({_FRONTIER_REQ_SQL}),
elig AS (
  SELECT * FROM req
  WHERE err_count <= 4
    AND floor(epoch(added_ts))
        + CASE WHEN err_count <= 0 THEN 0
               ELSE 86400 * pow(2, err_count - 1) END
        <= floor(epoch(TIMESTAMP '{_FRONTIER_NOW}'))
),
doled AS (
  SELECT host,
         'http://h' || host || '.example/p/' || url_id AS url,
         row_number() OVER (
           PARTITION BY host ORDER BY priority DESC, added_ts ASC, url_id ASC
         ) AS dole_rank
  FROM elig
),
robots AS (
  SELECT * FROM (VALUES (0, 'http://h0.example/p/1'),
                        (5, 'http://h5.example/p/1'),
                        (10, 'http://h10.example/p/1'),
                        (15, 'http://h15.example/p/1'))
    AS r(host, disallow_prefix)
),
allowed AS (
  SELECT d.url FROM doled d
  WHERE d.dole_rank <= 2 AND NOT EXISTS (
    SELECT 1 FROM robots r
    WHERE r.host = d.host AND starts_with(d.url, r.disallow_prefix)
  )
),
fetched AS (
  SELECT url, (('0x' || substr(md5(url), 1, 8))::BIGINT % 17 = 0) AS miss
  FROM allowed
)
SELECT url,
       CASE WHEN miss THEN 404 ELSE 200 END AS status,
       CASE WHEN miss THEN '' ELSE
         '<html><title>' || url || '</title><body>doc at ' || url
         || '</body></html>' END AS content,
       CAST(CASE WHEN miss THEN 0 ELSE
         strlen('<html><title>' || url || '</title><body>doc at ' || url
         || '</body></html>') END AS INT) AS n_bytes
FROM fetched ORDER BY url
"""


def q_token_stats(spark, sf_dir):
    """token counting per doc (BPE-ish proxy): total + distinct."""
    docs = _t(spark, sf_dir, "documents")
    toks = _toks()
    return docs.select(
        "doc_id",
        textstats.token_count(toks).alias("n_tokens"),
        textstats.distinct_token_count(toks).alias("n_distinct"),
    ).orderBy("doc_id")


SQL_TOKEN_STATS = f"""
SELECT doc_id,
       len(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS n_tokens,
       len(list_distinct(regexp_extract_all(lower(text), '{TOKEN_RE}'))) AS n_distinct
FROM documents ORDER BY doc_id
"""


def q_token_stats_bpe(spark, sf_dir):
    """BPE-ish token counting (the training-data budget proxy): GPT-2
    style pre-tokens + distinct count per doc."""
    docs = _t(spark, sf_dir, "documents")
    toks = textstats.bpe_tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_bpe"),
        F.size(F.array_distinct(toks)).alias("n_bpe_distinct"),
    ).orderBy("doc_id")


_BPE_SQL = textstats.BPE_TOKEN_RE.replace("'", "''")  # escape for SQL literal
SQL_TOKEN_STATS_BPE = rf"""
SELECT doc_id,
       len(regexp_extract_all(text, '{_BPE_SQL}')) AS n_bpe,
       len(list_distinct(regexp_extract_all(text, '{_BPE_SQL}')))
         AS n_bpe_distinct
FROM documents ORDER BY doc_id
"""


def q_quality_full(spark, sf_dir):
    """Fuller quality-signal battery: composite score, punctuation ratio,
    mean token length (length/punct/stopword family, X13/X14 analogs)."""
    docs = _t(spark, sf_dir, "documents")
    toks = _toks()
    return docs.select(
        "doc_id",
        textstats.quality_score(toks).alias("quality"),
        F.round(textstats.punct_ratio(F.col("text")), 4).alias("punct_ratio"),
        F.round(textstats.avg_token_len(toks), 4).alias("avg_token_len"),
    ).orderBy("doc_id")


_SW = ", ".join(f"'{w}'" for w in textstats.EN_STOPWORDS)
SQL_QUALITY_FULL = rf"""
WITH d AS (
  SELECT doc_id, text, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents
),
m AS (
  SELECT doc_id, text, toks,
         len(toks) AS n,
         CASE WHEN len(toks) > 0 THEN
           CAST(len(list_filter(toks, t -> t IN ({_SW}))) AS DOUBLE) / len(toks)
           ELSE 0.0 END AS swr,
         CASE WHEN len(toks) > 0 THEN
           1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
           ELSE 0.0 END AS rep
  FROM d
)
SELECT doc_id,
       round(0.4 * (CASE WHEN n BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END)
             + 0.4 * (1.0 - rep)
             + 0.2 * (CASE WHEN swr > 0.05 THEN 1.0 ELSE 0.0 END), 4) AS quality,
       round(CASE WHEN length(regexp_replace(text, '\s+', '', 'g')) > 0 THEN
         CAST(length(regexp_replace(text, '\s+', '', 'g'))
              - length(regexp_replace(text, '[^a-zA-Z0-9]+', '', 'g')) AS DOUBLE)
         / length(regexp_replace(text, '\s+', '', 'g')) ELSE 0.0 END, 4)
         AS punct_ratio,
       round(CASE WHEN n > 0 THEN
         CAST(list_reduce(list_prepend(0, list_transform(toks, t -> length(t))),
                          (a, x) -> a + x) AS DOUBLE) / n ELSE 0.0 END, 4)
         AS avg_token_len
FROM m ORDER BY doc_id
"""


def q_quality(spark, sf_dir):
    """quality scoring: stopword ratio + repetition + avg token length."""
    docs = _t(spark, sf_dir, "documents")
    toks = _toks()
    return docs.select(
        "doc_id",
        F.round(textstats.stopword_ratio(toks), 4).alias("stopword_ratio"),
        F.round(textstats.repetition_ratio(toks), 4).alias("repetition_ratio"),
    ).orderBy("doc_id")


_SW_LIST = ", ".join(f"'{w}'" for w in textstats.EN_STOPWORDS)
SQL_QUALITY = f"""
WITH d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks FROM documents
)
SELECT doc_id,
       round(CASE WHEN len(toks) > 0 THEN
         CAST(len(list_filter(toks, t -> t IN ({_SW_LIST}))) AS DOUBLE) / len(toks)
         ELSE 0.0 END, 4) AS stopword_ratio,
       round(CASE WHEN len(toks) > 0 THEN
         1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
         ELSE 0.0 END, 4) AS repetition_ratio
FROM d ORDER BY doc_id
"""


# deterministic multi-language fixture (the pii_scrub injection
# convention): each doc gets its stored-lang function-word marker
# prepended, repeated proportionally to length so the signal scales with
# the document; zh (no ASCII profile) gets nothing and falls through to
# whatever the English keyword-soup base text scores.  Both engine and
# oracle build the identical text, so the entry certifies the CLASSIFIER
# (operators/textstats.langid_multi — X7 full-strength, 7 languages).
_LANG_MARKERS = {
    lg: " ".join(textstats.LANG_PROFILES[lg]) for lg in ("de", "en", "es", "fr")
}


def q_langid(spark, sf_dir):
    """Multi-language ID (X7: Language.cpp/Lang.cpp analog) — per-language
    function-word gram profiles scored with the length/replace count, a
    pure codegen expression; confusion counts vs the stored lang column
    over the injected ≥4-language fixture."""
    docs = _t(spark, sf_dir, "documents")
    mk = F.lit("")
    for lg, marker in _LANG_MARKERS.items():
        mk = F.when(F.col("lang") == lg, F.lit(marker)).otherwise(mk)
    k = F.greatest(
        F.lit(1), F.expr("length(coalesce(text, '')) div 200")
    ).cast("int")
    fixture = F.concat(
        F.repeat(F.concat(mk, F.lit(" ")), k), F.coalesce(F.col("text"), F.lit(""))
    )
    return (
        docs.select("lang", textstats.langid_multi(fixture).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "predicted")
    )


_LANG_MARKER_CASE = (
    "CASE lang "
    + " ".join(f"WHEN '{lg}' THEN '{m}'" for lg, m in _LANG_MARKERS.items())
    + " ELSE '' END"
)

SQL_LANGID = f"""
WITH fx AS (
  SELECT lang,
         repeat(({_LANG_MARKER_CASE}) || ' ',
                greatest(1, length(coalesce(text, '')) // 200))
           || coalesce(text, '') AS t
  FROM documents
),
p AS (
  SELECT lang, {textstats.langid_multi_sql('t')} AS predicted FROM fx
)
SELECT lang, predicted, count(*) AS n FROM p GROUP BY lang, predicted
ORDER BY lang, predicted
"""


def q_training_mix(spark, sf_dir):
    """Composed training-data curation pipeline (operators/pipeline.py):
    quality gate (composite >= 0.7) -> language gate (stopword-ratio
    'en') -> exact dedup (one survivor per md5(text), min doc_id) ->
    deterministic per-source quota (3 docs, ranked by (md5(text),
    doc_id)).  One declarative plan; the oracle replays every stage."""
    from .operators.pipeline import training_mix

    docs = _t(spark, sf_dir, "documents")
    return training_mix(
        docs, strata_col="source", quality_min=0.7, lang="en", n_per_stratum=3
    )


SQL_TRAINING_MIX = rf"""
WITH d AS (
  SELECT doc_id, source, text,
         regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents
),
m AS (
  SELECT doc_id, source, text, len(toks) AS n,
         CASE WHEN len(toks) > 0 THEN
           CAST(len(list_filter(toks, t -> t IN ({_SW_LIST}))) AS DOUBLE) / len(toks)
           ELSE 0.0 END AS swr,
         CASE WHEN len(toks) > 0 THEN
           1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
           ELSE 0.0 END AS rep
  FROM d
),
q AS (
  SELECT doc_id, source, text, n,
         round(0.4 * (CASE WHEN n BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END)
               + 0.4 * (1.0 - rep)
               + 0.2 * (CASE WHEN swr > 0.05 THEN 1.0 ELSE 0.0 END), 4)
           AS quality,
         {textstats.langid_multi_sql('text')} AS lang_pred
  FROM m
),
f AS (SELECT * FROM q WHERE quality >= 0.7 AND lang_pred = 'en'),
dd AS (
  SELECT * FROM f
  QUALIFY row_number() OVER (
    PARTITION BY CASE WHEN text IS NOT NULL THEN md5(text)
                      ELSE 'null:' || CAST(doc_id AS VARCHAR) END
    ORDER BY doc_id) = 1
),
s AS (
  SELECT * FROM dd
  QUALIFY row_number() OVER (
    PARTITION BY source
    ORDER BY md5(coalesce(CAST(text AS VARCHAR), '')), doc_id) <= 3
)
SELECT doc_id, source, quality, CAST(n AS BIGINT) AS n_tokens
FROM s ORDER BY doc_id
"""


def q_fingerprint(spark, sf_dir):
    """document fingerprint: polynomial rolling hash over tokens."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", textstats.fingerprint(_toks()).alias("fp")
    ).orderBy("doc_id")


SQL_FINGERPRINT = f"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(regexp_extract_all(lower(text), '{TOKEN_RE}'),
                          t -> CAST(length(t) * 7 + ascii(t) AS BIGINT))),
         (h, x) -> (h * 31 + x) % 1000000007) AS fp
FROM documents ORDER BY doc_id
"""


def q_ann_cosine(spark, sf_dir):
    """brute-force cosine top-k vs the vec_id=0 embedding."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return similarity.brute_force_topk(
        emb.filter(F.col("vec_id") != 0), [float(x) for x in qv], k=10
    )


SQL_ANN_COSINE = """
WITH q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id = 0
)
SELECT vec_id,
       round(
         list_reduce(list_prepend(0.0,
           list_zip(list_transform(embedding, x -> CAST(x AS DOUBLE)), qv)
             .list_transform(p -> p[1] * p[2])), (a, x) -> a + x)
         / (sqrt(list_reduce(list_prepend(0.0,
              list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
              (a, x) -> a + x))
            * sqrt(list_reduce(list_prepend(0.0,
                list_transform(qv, x -> x * x)), (a, x) -> a + x))), 4) AS cosine
FROM embeddings CROSS JOIN q
WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id LIMIT 10
"""


def q_ann_lsh(spark, sf_dir):
    """LSH-bucketed ANN with FULL multi-probe (n_probes = 2^n_planes):
    probing every bucket makes the approximate path exactly equal to
    brute force, so the same DuckDB oracle certifies the bucket plumbing
    (bucket assignment, probe-list pruning, per-bucket exact scoring);
    recall-vs-probes behavior is covered in tests/test_dedup_kernels."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return similarity.lsh_bucketed_topk(
        emb.filter(F.col("vec_id") != 0),
        [float(x) for x in qv],
        k=10,
        n_planes=4,
        n_probes=16,
    )


def q_ann_ivf(spark, sf_dir):
    """IVF-partitioned ANN with FULL probe (nprobe == nlist): every
    Voronoi cell is scanned, so the result equals exact brute force and
    the brute-force DuckDB oracle certifies the cell-assignment +
    probe-pruning plumbing (recall-vs-nprobe behavior is covered in
    tests/test_similarity_ivf.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return similarity.ivf_topk(
        emb.filter(F.col("vec_id") != 0),
        [float(x) for x in qv],
        k=10,
        nlist=8,
        nprobe=8,
    )


def q_ann_quantized(spark, sf_dir):
    """int8 scalar-quantized ANN with full-precision re-rank (r4): stage 1
    ranks by cosine over the 4x-smaller quantized vectors (per-vector
    symmetric int8 — the scale cancels, so ranking reads only the int8
    array), stage 2 re-scores the rerank=30 survivors exactly.  The
    oracle replays BOTH stages in SQL (quantize -> approx top-30 ->
    exact top-10), so the quantization math itself is driver-certified,
    not just the degenerate full-rerank case."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return similarity.quantized_topk(
        emb.filter(F.col("vec_id") != 0),
        [float(x) for x in qv],
        k=10,
        rerank=30,
    )


SQL_ANN_QUANTIZED = """
WITH q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id = 0
),
scaled AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
  FROM embeddings WHERE vec_id <> 0
),
quant AS (
  SELECT vec_id,
         CASE WHEN s = 0
              THEN list_transform(embedding, x -> 0.0)
              ELSE list_transform(embedding, x -> round(CAST(x AS DOUBLE) / s))
         END AS qe
  FROM scaled
),
stage1 AS (
  SELECT vec_id,
         list_reduce(list_prepend(0.0,
           list_zip(qe, qv).list_transform(p -> p[1] * p[2])), (a, x) -> a + x)
         / (sqrt(list_reduce(list_prepend(0.0,
              list_transform(qe, x -> x * x)), (a, x) -> a + x))
            * sqrt(list_reduce(list_prepend(0.0,
                list_transform(qv, x -> x * x)), (a, x) -> a + x))) AS approx
  FROM quant CROSS JOIN q
  ORDER BY approx DESC, vec_id LIMIT 30
)
SELECT e.vec_id,
       round(
         list_reduce(list_prepend(0.0,
           list_zip(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), qv)
             .list_transform(p -> p[1] * p[2])), (a, x) -> a + x)
         / (sqrt(list_reduce(list_prepend(0.0,
              list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
              (a, x) -> a + x))
            * sqrt(list_reduce(list_prepend(0.0,
                list_transform(qv, x -> x * x)), (a, x) -> a + x))), 4) AS cosine
FROM embeddings e JOIN stage1 USING (vec_id) CROSS JOIN q
ORDER BY cosine DESC, e.vec_id LIMIT 10
"""


def q_pairwise_cosine(spark, sf_dir):
    """Embedding near-dup pairs (a<b, cosine >= 0.3), top-50 — through the
    LSH bucket topology in its exhaustive configuration (n_planes=0 ->
    one bucket == exact all-pairs, the ann_lsh full-probe==exact trick),
    so the DuckDB cross-join oracle certifies the whole candidate->
    exact-verify plumbing.  Pruned-bucket configs (the scale path) are
    recall-property-tested in tests/test_dedup_kernels.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        similarity.pairwise_cosine_above(emb, threshold=0.3, bands=1, n_planes=0)
        .orderBy(F.desc("cosine"), F.asc("a"), F.asc("b"))
        .limit(50)
    )


_COS_SQL = """
round(
  list_reduce(list_prepend(0.0,
    list_zip(list_transform(l.embedding, x -> CAST(x AS DOUBLE)),
             list_transform(r.embedding, x -> CAST(x AS DOUBLE)))
      .list_transform(p -> p[1] * p[2])), (acc, x) -> acc + x)
  / (sqrt(list_reduce(list_prepend(0.0,
       list_transform(l.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       (acc, x) -> acc + x))
     * sqrt(list_reduce(list_prepend(0.0,
         list_transform(r.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
         (acc, x) -> acc + x))), 4)
"""

SQL_PAIRWISE_COSINE = f"""
SELECT l.vec_id AS a, r.vec_id AS b, {_COS_SQL} AS cosine
FROM embeddings l JOIN embeddings r ON l.vec_id < r.vec_id
WHERE {_COS_SQL} >= 0.3
ORDER BY cosine DESC, a, b LIMIT 50
"""


def q_semantic_dedup(spark, sf_dir):
    """SEMANTIC dedup (embedding-space near-dup clustering): exact-cosine
    pairs at theta=0.3 through the LSH topology in its exhaustive
    one-bucket configuration (same full-probe==exact trick as
    pairwise_cosine, whose membership SQL this oracle embeds verbatim) ->
    connected components (alternating star contraction) -> per-vector
    keep/drop sheet (vec_id, cluster_id = component min, cluster_size,
    is_canonical).  This is the embedding twin of dedup_clusters
    (lexical simhash); together they are the two near-dup axes a
    pretraining curation pass runs.  The Spark filter applies to the
    4-digit-ROUNDED cosine (similarity.pairwise_cosine_above rounds
    before thresholding), so the oracle thresholds the identical rounded
    expression — membership is bit-reproducible on both sides."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = similarity.pairwise_cosine_above(
        emb, threshold=0.3, bands=1, n_planes=0
    )
    return (
        dedup.dedup_clusters(pairs)
        .select(
            F.col("doc_id").alias("vec_id"),
            "cluster_id",
            F.col("cluster_size").cast("long").alias("cluster_size"),
            "is_canonical",
        )
        .orderBy("cluster_id", "vec_id")
    )


SQL_SEMANTIC_DEDUP = f"""
WITH RECURSIVE pairs AS (
  SELECT l.vec_id AS a, r.vec_id AS b
  FROM embeddings l JOIN embeddings r ON l.vec_id < r.vec_id
  WHERE l.embedding IS NOT NULL AND r.embedding IS NOT NULL
    AND {_COS_SQL} >= 0.3
),
edges AS (
  SELECT a AS s, b AS d FROM pairs UNION SELECT b, a FROM pairs
),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s WHERE e.d <> r.s
),
comp AS (
  SELECT s AS vec_id, least(s, min(d)) AS cluster_id FROM reach GROUP BY s
)
SELECT vec_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       (vec_id = cluster_id) AS is_canonical
FROM comp
ORDER BY cluster_id, vec_id
"""

# semantic decontamination: l = train split, r = eval split — the same
# rounded-cosine expression as pairwise_cosine/semantic_dedup, thresholded
# and max'd AFTER rounding exactly as the Spark plan does
SQL_SEMANTIC_DECONTAM = f"""
SELECT l.vec_id AS vec_id, count(*) AS n_hits, max({_COS_SQL}) AS max_cosine
FROM embeddings l JOIN embeddings r
  ON (r.vec_id % 10 = 0) AND (l.vec_id % 10 <> 0)
WHERE {_COS_SQL} >= 0.3
GROUP BY l.vec_id ORDER BY l.vec_id
"""


def q_embed_facets(spark, sf_dir):
    """facet counts over embedding labels + mean norm per label."""
    emb = _t(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("embedding").cast("array<double>"), lambda x: x * x),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    return (
        emb.select("label", norm.alias("norm"))
        .groupBy("label")
        .agg(F.count("*").alias("n"), F.round(F.avg("norm"), 4).alias("avg_norm"))
        .orderBy("label")
    )


SQL_EMBED_FACETS = """
SELECT label, count(*) AS n,
       round(avg(sqrt(list_reduce(list_prepend(0.0,
         list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
         (a, x) -> a + x))), 4) AS avg_norm
FROM embeddings GROUP BY label ORDER BY label
"""


def q_search_facets(spark, sf_dir):
    """A4 search-side: facet counts (lang, source) over docs matching a
    term — the gbfacetstr flow: match -> join meta -> partial/final agg."""
    docs = _t(spark, sf_dir, "documents")
    matched = docs.filter(F.arrays_overlap(_toks(), F.array(F.lit("join"))))
    return (
        matched.groupBy("lang", "source")
        .agg(F.count("*").alias("facet_count"))
        .orderBy("lang", "source")
    )


SQL_SEARCH_FACETS = f"""
SELECT lang, source, count(*) AS facet_count
FROM documents
WHERE list_contains(regexp_extract_all(lower(text), '{TOKEN_RE}'), 'join')
GROUP BY lang, source ORDER BY lang, source
"""


def q_site_cluster(spark, sf_dir):
    """W1: site clustering — best 2 docs per source among matches of
    'table', ranked by tf (Msg40/Msg51 top-2-per-site collapse)."""
    docs = _t(spark, sf_dir, "documents")
    occ = docs.select("doc_id", "source", F.explode(_toks()).alias("term"))
    tf = (
        occ.filter(F.col("term") == "table")
        .groupBy("doc_id", "source")
        .agg(F.count("*").alias("tf"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("tf"), F.asc("doc_id"))
    return (
        tf.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("source", "doc_id", "tf", "rn")
        .orderBy("source", "rn")
    )


SQL_SITE_CLUSTER = f"""
WITH tf AS (
  SELECT doc_id, source, count(*) AS tf
  FROM (SELECT doc_id, source,
               unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term
        FROM documents)
  WHERE term = 'table' GROUP BY doc_id, source
)
SELECT source, doc_id, tf, rn
FROM (SELECT *, row_number() OVER (PARTITION BY source
        ORDER BY tf DESC, doc_id) AS rn FROM tf)
WHERE rn <= 2 ORDER BY source, rn
"""


_SNIPPET_TERMS = ("spark", "merge")


def q_snippet(spark, sf_dir):
    """X15 best-window summary (Summary.cpp's best-sentence rule, r5):
    each query term anchors a candidate 60-char window at its first
    occurrence; candidates score by how many DISTINCT query terms they
    contain; argmax wins, ties to the earliest window start.  Output is
    (doc_id, snippet, n_terms) for docs matching either term."""
    t1, t2 = _SNIPPET_TERMS
    docs = _t(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    cands = []
    for t in (t1, t2):
        pos = F.locate(t, low)
        start = F.greatest(pos - 20, F.lit(1))
        win = F.substring(low, start, 60)
        score = sum((F.instr(win, u) > 0).cast("int") for u in (t1, t2))
        cands.append(
            F.when(
                pos > 0,
                F.struct(
                    score.alias("s"), (-start).alias("negpos"), win.alias("w")
                ),
            ).otherwise(
                F.struct(
                    F.lit(-1).alias("s"),
                    F.lit(0).alias("negpos"),
                    F.lit("").alias("w"),
                )
            )
        )
    best = F.array_max(F.array(*cands))
    return (
        docs.filter((F.locate(t1, low) > 0) | (F.locate(t2, low) > 0))
        .select(
            "doc_id",
            best["w"].alias("snippet"),
            best["s"].cast("long").alias("n_terms"),
        )
        .orderBy("doc_id")
    )


SQL_SNIPPET = f"""
WITH c AS (
  SELECT doc_id, lower(text) AS low,
         strpos(lower(text), '{_SNIPPET_TERMS[0]}') AS p1,
         strpos(lower(text), '{_SNIPPET_TERMS[1]}') AS p2
  FROM documents
), w AS (
  SELECT doc_id, p1, p2,
         greatest(p1 - 20, 1) AS st1, greatest(p2 - 20, 1) AS st2,
         substr(low, greatest(p1 - 20, 1), 60) AS w1,
         substr(low, greatest(p2 - 20, 1), 60) AS w2
  FROM c WHERE p1 > 0 OR p2 > 0
), s AS (
  SELECT doc_id, p1, p2, st1, st2, w1, w2,
         (CASE WHEN strpos(w1, '{_SNIPPET_TERMS[0]}') > 0 THEN 1 ELSE 0 END
          + CASE WHEN strpos(w1, '{_SNIPPET_TERMS[1]}') > 0 THEN 1 ELSE 0 END) AS s1,
         (CASE WHEN strpos(w2, '{_SNIPPET_TERMS[0]}') > 0 THEN 1 ELSE 0 END
          + CASE WHEN strpos(w2, '{_SNIPPET_TERMS[1]}') > 0 THEN 1 ELSE 0 END) AS s2
  FROM w
)
SELECT doc_id,
       CASE WHEN p1 > 0 AND (p2 <= 0 OR s1 > s2 OR (s1 = s2 AND st1 <= st2))
            THEN w1 ELSE w2 END AS snippet,
       CAST(CASE WHEN p1 > 0 AND (p2 <= 0 OR s1 > s2 OR (s1 = s2 AND st1 <= st2))
            THEN s1 ELSE s2 END AS BIGINT) AS n_terms
FROM s ORDER BY doc_id
"""


def q_spell_suggest(spark, sf_dir):
    """X16 over the STORED term dictionary: 'did you mean' — closest
    terms to the misspelling 'tabel' by edit distance then collection
    frequency (Speller.cpp over termstats; no corpus re-tokenize)."""
    from .engine_entries import engine_index

    idx = engine_index(spark, sf_dir)
    ts = idx.termstats.read(spark)
    # word terms only: the dictionary also holds bigram pair terms
    # ("a b") and field terms ("lang:x"), which are not spell candidates
    ts = ts.filter(~F.col("term").contains(" ") & ~F.col("term").contains(":"))
    # length band: edit distance >= |len(a) - len(b)|, so this cheap
    # predicate is pushed to the parquet scan and prunes the dictionary
    # BEFORE the linear levenshtein evaluation (scale guard: the scan is
    # O(vocab) either way, but the edit-distance kernel now runs only on
    # the ~band-sized slice)
    ts = ts.filter(F.abs(F.length("term") - F.lit(len("tabel"))) <= 2)
    return (
        ts.withColumn("dist", F.levenshtein(F.col("term"), F.lit("tabel")))
        .filter(F.col("dist") <= 2)
        .select("term", F.col("cf").cast("long").alias("cf"), "dist")
        .orderBy("dist", F.desc("cf"), "term")
        .limit(5)
    )


SQL_SPELL_SUGGEST = f"""
WITH vocab AS (
  SELECT term, count(*) AS cf
  FROM (SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term
        FROM documents)
  GROUP BY term
)
SELECT term, cf, levenshtein(term, 'tabel') AS dist
FROM vocab WHERE levenshtein(term, 'tabel') <= 2
ORDER BY dist, cf DESC, term LIMIT 5
"""


def q_sessionize(spark, sf_dir):
    """Stateful-operator twin (r4): gap sessionization of the events
    table — the BATCH semantics of streaming/stateful.sessionize_stream
    (applyInPandasWithState), here as lag + running-sum windows so a SQL
    oracle can replay it.  30-min gap; per-session bounds + aggregates."""
    from .streaming.stateful import sessionize

    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, gap_secs=1800)
    return s.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_end"
        ),
        "n_events",
        "sum_value",
    ).orderBy("user_id", "session_start")


SQL_SESSIONIZE = """
WITH o AS (
  SELECT event_id, user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
f AS (
  SELECT event_id, user_id, ts, value,
         CASE WHEN prev IS NULL
                   OR (epoch_us(ts) - epoch_us(prev)) > 1800000000
              THEN 1 ELSE 0 END AS newf
  FROM o
),
s AS (
  SELECT user_id, ts, value,
         sum(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
  FROM f
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       CAST(count(*) AS INT) AS n_events,
       round(sum(value), 4) AS sum_value
FROM s GROUP BY user_id, seq
ORDER BY user_id, session_start
"""


def q_bigrams(spark, sf_dir):
    """X3: adjacent-pair bigram counts (Phrases.cpp) — top 15."""
    docs = _t(spark, sf_dir, "documents")
    toks = _toks()
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(15)
    )


SQL_BIGRAMS = f"""
WITH d AS (
  SELECT regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks FROM documents
),
b AS (
  SELECT unnest(list_transform(range(len(toks) - 1),
                i -> toks[i+1] || ' ' || toks[i+2])) AS bigram
  FROM d WHERE len(toks) >= 2
)
SELECT bigram, count(*) AS cnt FROM b GROUP BY bigram
ORDER BY cnt DESC, bigram LIMIT 15
"""


def q_serp_dedup(spark, sf_dir):
    """W3 beyond exact-groupBy: QUERY-TIME result dedup (Msg40
    dedupResultsByDefault) — top-50 'table' results from the stored
    index, then lower-ranked results with identical content dropped
    (percent-similar simhash mode covered in test_serp.py; exact mode is
    the oracle-expressible reference default)."""
    from .engine_entries import _round_topk, engine_index
    from .operators.topk import search_wand
    from .plans.serp import dedup_results

    idx = engine_index(spark, sf_dir)
    top = _round_topk(search_wand(spark, idx, "table", k=70, enrich=False), 50)
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("content")
    )
    return dedup_results(top, docs, mode="exact").select("doc_id", "score")


SQL_SERP_DEDUP = f"""
WITH d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents
),
dd AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS doclen, toks FROM d),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(doclen) AS avgdl FROM dd),
occ AS (SELECT doc_id, doclen, unnest(toks) AS term FROM dd),
tf AS (
  SELECT doc_id, doclen, CAST(count(*) AS DOUBLE) AS tf
  FROM occ WHERE term = 'table' GROUP BY doc_id, doclen
),
dfx AS (SELECT CAST(count(*) AS DOUBLE) AS df FROM tf),
top AS (
  SELECT tf.doc_id,
         round( ln(1.0 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
                * tf.tf * 2.2
                / (tf.tf + 1.2 * (0.25 + 0.75 * tf.doclen / stats.avgdl)), 4) AS score
  FROM tf CROSS JOIN dfx CROSS JOIN stats
  ORDER BY score DESC, doc_id LIMIT 50
),
ranked AS (
  SELECT t.doc_id, t.score, md5(doc.text) AS sig,
         row_number() OVER (ORDER BY t.score DESC, t.doc_id) AS rk
  FROM top t JOIN documents doc USING (doc_id)
),
best AS (SELECT sig, min(rk) AS best FROM ranked GROUP BY sig)
SELECT doc_id, score FROM ranked JOIN best
  ON ranked.sig = best.sig AND ranked.rk = best.best
ORDER BY score DESC, doc_id
"""


def q_facet_ranges(spark, sf_dir):
    """A4 numeric-range facets (gbfacetint range buckets): bucketed
    counts + per-bucket min/max over a numeric column."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / 50000).cast("long").alias("bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


SQL_FACET_RANGES = """
SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
       count(*) AS n,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM orders GROUP BY 1 ORDER BY bucket
"""


def q_rollup(spark, sf_dir):
    """A4+: hierarchical facet rollup (free in Spark/DuckDB, absent in the
    reference — noted as an extension in SURVEY §2.4)."""
    return (
        _t(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
        )
        .orderBy("status", "priority")
    )


SQL_ROLLUP = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY status, priority
"""


def q_except(spark, sf_dir):
    """U2: EXCEPT — custkeys with urgent orders but no high orders."""
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    high = o.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    return urgent.distinct().subtract(high).orderBy("o_custkey")


SQL_EXCEPT = """
SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
ORDER BY o_custkey
"""


def _as_media(spark, sf_dir):
    """documents.text as an opaque binary payload — the multimodal
    column contract exercised on driver data (real decoders are
    container-stubbed; the Spark plumbing is the deliverable)."""
    from .operators.multimodal import MEDIA_SCHEMA  # noqa: F401  (contract)

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit(0).alias("width"),
            F.lit(0).alias("height"),
            F.lit(0).alias("sample_rate"),
            F.lit(1).alias("n_frames"),
        ).alias("meta"),
    )


def q_multimodal_meta(spark, sf_dir):
    """Multimodal metadata pass (scan-speed column ops over binary
    payloads): size + content digest per media row."""
    from .operators import multimodal

    return (
        multimodal.media_metadata(_as_media(spark, sf_dir))
        .select("media_id", "n_bytes", "payload_sha256")
        .orderBy("media_id")
    )


SQL_MULTIMODAL_META = """
SELECT doc_id AS media_id,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS payload_sha256
FROM documents ORDER BY media_id
"""


def q_multimodal_features(spark, sf_dir):
    """Arrow feature-extraction kernel over binary payloads.  The fake
    decoder derives features from the payload's sha256 digest, which
    DuckDB can replay byte-for-byte (f0 = first little-endian uint32 of
    the digest scaled to [-1, 1]) — so the whole binary-column -> Arrow
    kernel -> fixed-width feature path is oracle-certified, with only the
    codec call itself stubbed (no PIL/ffmpeg in this container)."""
    from .operators import multimodal

    return (
        multimodal.extract_features(_as_media(spark, sf_dir))
        .select("media_id", F.round(F.element_at("features", 1), 6).alias("f0"))
        .orderBy("media_id")
    )


SQL_MULTIMODAL_FEATURES = """
SELECT doc_id AS media_id,
       round(((CAST(('0x' || substr(h, 1, 2)) AS BIGINT)
             + CAST(('0x' || substr(h, 3, 2)) AS BIGINT) * 256
             + CAST(('0x' || substr(h, 5, 2)) AS BIGINT) * 65536
             + CAST(('0x' || substr(h, 7, 2)) AS BIGINT) * 16777216)
             / 4294967296.0) * 2.0 - 1.0, 6) AS f0
FROM (SELECT doc_id, sha256(text) AS h FROM documents)
ORDER BY media_id
"""


def q_minhash_lsh(spark, sf_dir):
    """MinHash-LSH candidate pairs -> EXACT n-gram-Jaccard verify
    (>= 0.5): the full candidate->verify dedup topology.  The oracle
    recomputes all pairs above the threshold from raw text; equality
    certifies both the verify math and that the banded minhash stage
    missed no qualifying pair on this corpus (the fixture's near-dups
    sit at J >= 0.9, where 16-band/4-row miss probability is ~1e-7 per
    pair — and the seeded signatures are deterministic)."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, "doc_id", "text")
    cand = dedup.minhash_lsh_pairs(sigs, bands=16)
    return (
        dedup.verify_pairs_jaccard(docs, cand, "doc_id", "text", n=3)
        .select("a", "b", F.round("jaccard", 4).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
        .orderBy("a", "b")
    )


SQL_MINHASH_LSH = f"""
WITH d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(toks) >= 3 THEN
           list_transform(range(len(toks) - 2),
             i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
           ELSE [] END) AS grams
  FROM d
)
SELECT l.doc_id AS a, r.doc_id AS b,
       round(CAST(len(list_intersect(l.grams, r.grams)) AS DOUBLE)
             / (len(l.grams) + len(r.grams) - len(list_intersect(l.grams, r.grams))),
             4) AS jaccard
FROM sh l JOIN sh r ON l.doc_id < r.doc_id
WHERE round(CAST(len(list_intersect(l.grams, r.grams)) AS DOUBLE)
            / (len(l.grams) + len(r.grams) - len(list_intersect(l.grams, r.grams))),
            4) >= 0.5
ORDER BY a, b
"""


def q_simhash(spark, sf_dir):
    """SimHash near-dup pairs at the standard radius 3: md5-mode 64-bit
    signatures (hash == DuckDB ``md5_number_lower``, so the oracle replays
    the ENTIRE pipeline — tokenize, per-token hash, bit-vote fold, banding
    recall, popcount — in pure SQL against an O(n^2) exact recomputation).
    4 pigeonhole bands of 16 bits keep bucket entropy high, so candidate
    volume tracks true near-dup density instead of going quadratic (the
    earlier radius-16 formulation banded 17x ~4 bits and enumerated ~68%
    of ALL pairs on this corpus)."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.simhash_signatures(
        docs, "doc_id", "text", hash_mode="md5"
    ).cache()  # consumed by both self-join sides; signatures are tiny
    return (
        dedup.simhash_near_pairs(sigs, max_hamming=3)
        .select("a", "b", F.col("hamming").cast("int").alias("hamming"))
        .orderBy("a", "b")
    )


SQL_SIMHASH = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(regexp_extract_all(lower(text), '{TOKEN_RE}'))) AS t
  FROM documents
),
votes AS (
  SELECT doc_id, j,
         sum(CASE WHEN (md5_number_lower(t) >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM toks CROSS JOIN range(64) r(j)
  GROUP BY doc_id, j
),
sig0 AS (
  SELECT doc_id,
         bit_or(CASE WHEN v > 0 THEN (1::UBIGINT << j) ELSE 0::UBIGINT END) AS s
  FROM votes GROUP BY doc_id
),
sig AS (  -- token-free docs vote 0 on every bit -> signature 0
  SELECT d.doc_id, coalesce(sig0.s, 0::UBIGINT) AS s
  FROM documents d LEFT JOIN sig0 USING (doc_id)
)
SELECT l.doc_id AS a, r.doc_id AS b,
       CAST(bit_count(xor(l.s, r.s)) AS INTEGER) AS hamming
FROM sig l JOIN sig r ON l.doc_id < r.doc_id
WHERE bit_count(xor(l.s, r.s)) <= 3
ORDER BY a, b
"""


def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS (r4): simhash pairs (hamming<=3, md5 mode — the
    fully-SQL-replayable signature) -> connected components via star
    contraction (O(log n) rounds of DataFrame shuffles, operators/dedup.py
    connected_components) -> per-doc keep/drop sheet (doc_id, cluster_id =
    component min, cluster_size, is_canonical).  The transitive-closure
    step pairs alone can't express; the oracle replays it with a
    recursive CTE over the identical simhash pair set."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.simhash_signatures(docs, "doc_id", "text", hash_mode="md5").cache()
    pairs = dedup.simhash_near_pairs(sigs, max_hamming=3)
    return (
        dedup.dedup_clusters(pairs)
        .select(
            "doc_id",
            "cluster_id",
            F.col("cluster_size").cast("long").alias("cluster_size"),
            "is_canonical",
        )
        .orderBy("cluster_id", "doc_id")
    )


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id,
         unnest(list_distinct(regexp_extract_all(lower(text), '{TOKEN_RE}'))) AS t
  FROM documents
),
votes AS (
  SELECT doc_id, j,
         sum(CASE WHEN (md5_number_lower(t) >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM toks CROSS JOIN range(64) r(j)
  GROUP BY doc_id, j
),
sig0 AS (
  SELECT doc_id,
         bit_or(CASE WHEN v > 0 THEN (1::UBIGINT << j) ELSE 0::UBIGINT END) AS s
  FROM votes GROUP BY doc_id
),
sig AS (
  SELECT d.doc_id, coalesce(sig0.s, 0::UBIGINT) AS s
  FROM documents d LEFT JOIN sig0 USING (doc_id)
),
pairs AS (
  SELECT l.doc_id AS a, r.doc_id AS b
  FROM sig l JOIN sig r ON l.doc_id < r.doc_id
  WHERE bit_count(xor(l.s, r.s)) <= 3
),
edges AS (
  SELECT a AS s, b AS d FROM pairs UNION SELECT b, a FROM pairs
),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s WHERE e.d <> r.s
),
comp AS (
  SELECT s AS doc_id, least(s, min(d)) AS cluster_id FROM reach GROUP BY s
)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       (doc_id = cluster_id) AS is_canonical
FROM comp
ORDER BY cluster_id, doc_id
"""


def q_prefix_suggest(spark, sf_dir):
    """Typeahead / query-completion over the STORED term dictionary:
    word terms with a given prefix ranked by document frequency (the
    completion source a serp front-end needs; kin of X16 spell_suggest
    but a pure pushed-StartsWith parquet scan — no edit-distance kernel,
    O(matching band) not O(vocab)).  Bigram pair terms (contain ' ') and
    field terms (contain ':') are not completion candidates."""
    from .engine_entries import engine_index

    idx = engine_index(spark, sf_dir)
    ts = idx.termstats.read(spark)
    ts = ts.filter(
        F.col("term").startswith("s")
        & ~F.col("term").contains(" ")
        & ~F.col("term").contains(":")
    )
    return (
        ts.select(
            "term",
            F.col("df").cast("long").alias("df"),
            F.col("cf").cast("long").alias("cf"),
        )
        .orderBy(F.desc("df"), F.desc("cf"), "term")
        .limit(10)
    )


SQL_PREFIX_SUGGEST = f"""
WITH occ AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term
  FROM documents
),
vocab AS (
  SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf
  FROM occ WHERE term LIKE 's%' GROUP BY term
)
SELECT term, df, cf FROM vocab
ORDER BY df DESC, cf DESC, term LIMIT 10
"""


_NEXT_WORD_PREV = "table"


def q_next_word_suggest(spark, sf_dir):
    """Next-word query continuation from the STORED bigram pair
    termlists (X3's other payoff beyond phrase pruning): given a
    completed word w, every indexed pair term 'w _' IS the continuation
    table, already df/cf-ranked — one pushed ``StartsWith('w ')``
    termstats scan, O(continuation band), no corpus read (the LM-ish
    suggest-as-you-type surface next to prefix_suggest's same-word
    completion).  Oracle recomputes adjacent-pair df/cf from raw text."""
    from .engine_entries import engine_index

    idx = engine_index(spark, sf_dir)
    pfx = _NEXT_WORD_PREV + " "
    ts = idx.termstats.read(spark).filter(F.col("term").startswith(pfx))
    return (
        ts.select(
            F.substring(F.col("term"), len(pfx) + 1, 10_000).alias(
                "next_word"
            ),
            F.col("df").cast("long").alias("df"),
            F.col("cf").cast("long").alias("cf"),
        )
        .orderBy(F.desc("df"), F.desc("cf"), "next_word")
        .limit(10)
    )


SQL_NEXT_WORD_SUGGEST = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS t
  FROM documents
), pairs AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i + 1])) AS pair
  FROM toks WHERE len(t) >= 2
), agg AS (
  SELECT pair, count(DISTINCT doc_id) AS df, count(*) AS cf
  FROM pairs WHERE pair LIKE '{_NEXT_WORD_PREV} %' GROUP BY pair
)
SELECT substr(pair, {len(_NEXT_WORD_PREV) + 2}) AS next_word, df, cf
FROM agg ORDER BY df DESC, cf DESC, next_word LIMIT 10
"""


_COLLOC_MIN_DF = 5


def q_collocations(spark, sf_dir):
    """PMI collocations from the STORED term statistics only — no corpus
    read: pair termlists carry (df, cf) for every adjacent bigram, word
    termlists carry unigram cf, and the collection token total is
    sum(cf) over word terms, so pointwise mutual information
    ``ln(cf_pair * T / (cf1 * cf2))`` is a vocabulary-sized self-join of
    termstats (A7 gigabits' statistical cousin — association strength
    instead of co-occurrence count).  Floats hit a 4 dp grid (the
    lm_perplexity convention, ~12 orders above libm drift); the oracle
    recomputes everything from raw text."""
    from .engine_entries import engine_index

    idx = engine_index(spark, sf_dir)
    ts = idx.termstats.read(spark).select(
        "term",
        F.col("df").cast("long").alias("df"),
        F.col("cf").cast("long").alias("cf"),
    )
    words = ts.filter(
        ~F.col("term").contains(" ") & ~F.col("term").contains(":")
    )
    pairs = ts.filter(
        F.col("term").contains(" ")
        & ~F.col("term").contains(":")
        & (F.col("df") >= _COLLOC_MIN_DF)
    )
    total = words.agg(F.sum("cf").cast("long").alias("_t_total"))
    w1 = words.select(F.col("term").alias("_w1"), F.col("cf").alias("_cf1"))
    w2 = words.select(F.col("term").alias("_w2"), F.col("cf").alias("_cf2"))
    sp = pairs.select(
        F.col("term").alias("pair"),
        "df",
        "cf",
        F.substring_index(F.col("term"), " ", 1).alias("_w1"),
        F.substring_index(F.col("term"), " ", -1).alias("_w2"),
    )
    joined = (
        sp.join(w1, "_w1").join(w2, "_w2").crossJoin(F.broadcast(total))
    )
    # cast to double BEFORE the multiplies: cf * t_total as long*long
    # wraps silently at web scale in non-ANSI Spark while the DuckDB
    # oracle raises on BIGINT overflow (r4 ADVICE) — the product feeds
    # log, so integer exactness is irrelevant
    pmi = F.round(
        F.log(
            (F.col("cf").cast("double") * F.col("_t_total").cast("double"))
            / (F.col("_cf1").cast("double") * F.col("_cf2").cast("double"))
        ),
        4,
    )
    return (
        joined.select("pair", "df", "cf", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "pair")
        .limit(10)
    )


SQL_COLLOCATIONS = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS t
  FROM documents
), occ AS (
  SELECT doc_id, unnest(t) AS w FROM toks
), words AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cf FROM occ GROUP BY w
), total AS (
  SELECT CAST(sum(cf) AS BIGINT) AS t_total FROM words
), bp AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i + 1])) AS pair
  FROM toks WHERE len(t) >= 2
), pairs AS (
  SELECT pair,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
         CAST(count(*) AS BIGINT) AS cf
  FROM bp GROUP BY pair
  HAVING count(DISTINCT doc_id) >= {_COLLOC_MIN_DF}
)
SELECT p.pair, p.df, p.cf,
       round(ln((CAST(p.cf AS DOUBLE) * CAST(t.t_total AS DOUBLE))
                / (CAST(w1.cf AS DOUBLE) * CAST(w2.cf AS DOUBLE))), 4) AS pmi
FROM pairs p
CROSS JOIN total t
JOIN words w1 ON w1.w = split_part(p.pair, ' ', 1)
JOIN words w2 ON w2.w = split_part(p.pair, ' ', 2)
ORDER BY pmi DESC, p.pair LIMIT 10
"""


MMR_LAM = 0.7
MMR_K = 10
MMR_NCAND = 50


def q_mmr_diversify(spark, sf_dir):
    """MMR diversified top-k (plans/diversify.py): exact-cosine top-50
    candidates for the vec_id=0 query embedding (distributed
    TakeOrderedAndProject scan), then the greedy
    lam*rel - (1-lam)*max-sim-to-selected re-rank to 10 driver-side over
    the bounded list.  The oracle replays the greedy loop with a
    recursive CTE; float parity is bit-exact (left-fold dots, pre-rounded
    sims, lam literals generated from the same Python doubles)."""
    from .plans.diversify import diversify_ann

    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    return diversify_ann(
        spark, emb, qv, k=MMR_K, n_candidates=MMR_NCAND, lam=MMR_LAM
    )


_COS = (
    "round(list_reduce(list_prepend(0.0, "
    "list_transform(list_zip({a}, {b}), p -> p[1] * p[2])), (x, y) -> x + y)"
    " / (sqrt(list_reduce(list_prepend(0.0, "
    "list_transform({a}, v -> v * v)), (x, y) -> x + y))"
    " * sqrt(list_reduce(list_prepend(0.0, "
    "list_transform({b}, v -> v * v)), (x, y) -> x + y))), 4)"
)

SQL_MMR_DIVERSIFY = f"""
WITH RECURSIVE q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id = 0
),
cs AS (
  SELECT vec_id AS doc_id,
         {_COS.format(a="list_transform(embedding, x -> CAST(x AS DOUBLE))", b="qv")} AS rel,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings CROSS JOIN q
),
cand AS (
  SELECT doc_id, rel, emb FROM cs ORDER BY rel DESC, doc_id LIMIT {MMR_NCAND}
),
sims AS (
  SELECT a.doc_id AS i, b.doc_id AS j, {_COS.format(a="a.emb", b="b.emb")} AS s
  FROM cand a JOIN cand b ON a.doc_id <> b.doc_id
),
sel(step, picked) AS (
  SELECT 0, CAST([] AS BIGINT[])
  UNION ALL
  SELECT s.step + 1,
         list_append(s.picked, (
           SELECT c.doc_id FROM cand c
           WHERE NOT list_contains(s.picked, c.doc_id)
           ORDER BY {MMR_LAM!r} * c.rel - {(1 - MMR_LAM)!r} * coalesce(
                      (SELECT max(x.s) FROM sims x
                       WHERE x.i = c.doc_id AND list_contains(s.picked, x.j)),
                      0.0) DESC,
                    c.doc_id
           LIMIT 1))
  FROM sel s WHERE s.step < {MMR_K}
),
final AS (SELECT picked FROM sel WHERE step = {MMR_K})
SELECT f.picked[r.i] AS doc_id, CAST(r.i AS INT) AS mmr_rank, c.rel
FROM final f, range(1, {MMR_K} + 1) r(i)
JOIN cand c ON c.doc_id = f.picked[r.i]
ORDER BY mmr_rank
"""


# ---------------------------------------------------------------------------
# r4: URL-filters DSL (F9), link-rank join (J7), deterministic sampling
# ---------------------------------------------------------------------------
def _url_rules():
    from .plans.urlfilters import UrlRule

    # an ordered policy table exercising every operator class of the DSL:
    # equality + numeric conjunction, regex, substring, numeric, catch-all
    return [
        UrlRule("lang==en && n_chars>=400", priority=10, index=True),
        UrlRule("repo~=^src1", priority=20, index=True),
        UrlRule("path*=/1", priority=30, index=False),
        UrlRule("n_chars<150", priority=40, index=False),
        UrlRule("default", priority=50, index=True),
    ]


def q_url_filters(spark, sf_dir):
    """F9: ordered URL-filters rule table (urlfilters.conf analog) compiled
    to ONE nested CASE projection — first-match-wins verdicts rolled up per
    rule.  No UDF; the whole policy evaluation is codegen'd."""
    from .plans.urlfilters import filter_verdicts

    docs = _t(spark, sf_dir, "documents").select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        "lang",
        "n_chars",
    )
    out = filter_verdicts(docs, _url_rules())
    return out.select(
        "rule_idx",
        "priority",
        F.col("indexed").cast("long").alias("indexed"),
        "n_docs",
    )


SQL_URL_FILTERS = """
WITH u AS (
  SELECT source AS repo, 'doc/' || CAST(doc_id AS VARCHAR) AS path, lang, n_chars
  FROM documents
),
m AS (
  SELECT CASE
    WHEN lang = 'en' AND n_chars >= 400 THEN 0
    WHEN regexp_matches(repo, '^src1') THEN 1
    WHEN contains(path, '/1') THEN 2
    WHEN n_chars < 150 THEN 3
    ELSE 4 END AS rule_idx
  FROM u
)
SELECT CAST(rule_idx AS BIGINT) AS rule_idx,
       CAST(CASE rule_idx WHEN 0 THEN 10 WHEN 1 THEN 20 WHEN 2 THEN 30
                          WHEN 3 THEN 40 ELSE 50 END AS BIGINT) AS priority,
       CAST(CASE WHEN rule_idx IN (2, 3) THEN 0 ELSE 1 END AS BIGINT) AS indexed,
       count(*) AS n_docs
FROM m GROUP BY rule_idx ORDER BY rule_idx
"""


def q_link_rank(spark, sf_dir):
    """J7: link join — invert a link graph into per-doc inlink counts
    (Linkdb/Msg25) and blend the static prior into BM25 ranking
    (siteNumInlinks analog): extract -> groupBy(dst) -> broadcast join.
    The fixture text has no link markup, so edges come from the
    deterministic closed-form rule (operators.links.derive_edges) the
    oracle replays exactly; extract_links is the real-markup extraction
    path (pytest-covered on a planted-imports corpus)."""
    from .operators import links

    docs = _t(spark, sf_dir, "documents")
    ranks = links.inlink_counts(links.derive_edges(docs, fan_out=3))
    base = bm25_adhoc(spark, sf_dir, ["table"], k=50)
    return links.static_rank_join(base, ranks, alpha=0.1, k=20)


def _sql_link_rank() -> str:
    return f"""
WITH base AS ({bm25_oracle_sql(["table"], k=50)}),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
edges AS (
  SELECT DISTINCT d.doc_id AS src_doc_id,
         ((d.doc_id * 131 + d.n_chars + j.j * 37) % nn.n_total) AS dst_doc_id
  FROM documents d CROSS JOIN nn CROSS JOIN (VALUES (0), (1), (2)) AS j(j)
  WHERE ((d.doc_id * 131 + d.n_chars + j.j * 37) % nn.n_total) <> d.doc_id
),
inl AS (SELECT dst_doc_id AS doc_id, CAST(count(*) AS BIGINT) AS inlinks
        FROM edges GROUP BY dst_doc_id)
SELECT b.doc_id,
       coalesce(inl.inlinks, 0) AS inlinks,
       round(b.score * (1.0 + 0.1 * ln(1.0 + coalesce(inl.inlinks, 0))), 4) AS rank_score
FROM base b LEFT JOIN inl USING (doc_id)
ORDER BY rank_score DESC, doc_id
LIMIT 20
"""


def q_pagerank(spark, sf_dir):
    """Iterative fixed-point PageRank (5 supersteps, d=0.85) over the
    deterministic closed-form link graph — the full-strength global
    link-quality prior whose one-hop approximation is link_rank's inlink
    count (J7/Msg25; Gigablast tiers the same signal as siteNumInlinks).
    Every rank is BIGINT micro-units (integer shares, integer damping,
    integer dangling redistribution), so the 5-step fixpoint is
    bit-identical under any partitioning and the oracle replays each
    superstep as a CTE block (the quality_perceptron convention).
    Returns the top-15 docs plus the conserved total mass."""
    from .operators import links

    docs = _t(spark, sf_dir, "documents")
    edges = links.derive_edges(docs, fan_out=3)
    pr = links.pagerank(docs, edges, n_iter=5, damping_pct=85)
    total = pr.agg(F.sum("r").cast("long").alias("total_units"))
    return (
        pr.crossJoin(F.broadcast(total))
        .select("doc_id", F.col("r").alias("rank_units"), "total_units")
        .orderBy(F.desc("rank_units"), "doc_id")
        .limit(15)
    )


def _sql_pagerank(n_iter: int = 5, damping: int = 85) -> str:
    from .operators.links import PR_SCALE

    # the adaptive per-doc base mass is computed IN SQL (mirrors
    # links._pr_scale_for: max(1, min(PR_SCALE, 2^62 // (100*n)))) — a
    # hardcoded PR_SCALE diverged from the engine above ~4.6e7 docs,
    # where pagerank() switches to a smaller base to stay in int64
    # (r4 ADVICE).  The teleport term derives from the same scale.
    teleport = f"(SELECT ((100 - {damping}) * s) // 100 FROM scale)"
    parts = [
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents)",
        f"scale AS (SELECT CAST(greatest(1, least({PR_SCALE}, "
        "4611686018427387904 // (100 * greatest(n_total, 1)))) AS BIGINT)"
        " AS s FROM nn)",
        """edges AS MATERIALIZED (
  SELECT DISTINCT d.doc_id AS src,
         ((d.doc_id * 131 + d.n_chars + j.j * 37) % nn.n_total) AS dst
  FROM documents d CROSS JOIN nn CROSS JOIN (VALUES (0), (1), (2)) AS j(j)
  WHERE ((d.doc_id * 131 + d.n_chars + j.j * 37) % nn.n_total) <> d.doc_id
)""",
        "outdeg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS od"
        " FROM edges GROUP BY src)",
        "r0 AS MATERIALIZED (SELECT doc_id, (SELECT s FROM scale) AS r"
        " FROM documents)",
    ]
    for k in range(1, n_iter + 1):
        p = f"r{k - 1}"
        parts.append(
            f"""inf{k} AS MATERIALIZED (
  SELECT e.dst AS doc_id, CAST(sum(r.r // o.od) AS BIGINT) AS inflow
  FROM edges e JOIN {p} r ON e.src = r.doc_id
  JOIN outdeg o ON o.src = e.src
  GROUP BY e.dst
)"""
        )
        parts.append(
            f"""dang{k} AS MATERIALIZED (
  SELECT CAST(coalesce(sum(r.r), 0) AS BIGINT) AS dm
  FROM {p} r LEFT JOIN outdeg o ON r.doc_id = o.src
  WHERE o.src IS NULL
)"""
        )
        parts.append(
            f"""r{k} AS MATERIALIZED (
  SELECT d.doc_id,
         CAST(({teleport}) + ({damping} * (coalesce(i.inflow, 0)
              + (SELECT dm FROM dang{k}) // (SELECT n_total FROM nn)))
              // 100 AS BIGINT) AS r
  FROM {p} d LEFT JOIN inf{k} i USING (doc_id)
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT doc_id, r AS rank_units,
       (SELECT CAST(sum(r) AS BIGINT) FROM r{n_iter}) AS total_units
FROM r{n_iter}
ORDER BY rank_units DESC, doc_id
LIMIT 15
"""
    )


def q_sample_stratified(spark, sf_dir):
    """Deterministic per-stratum quota sample (3 docs per language),
    keyed on md5(text) so the selection is partitioning-invariant and
    engine-replayable — the 'balance the training mix' op."""
    from .operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return (
        stratified_sample(docs, "lang", 3, hash_col="text", id_col="doc_id")
        .select("lang", "doc_id", F.col("n_chars").cast("long").alias("n_chars"))
        .orderBy("lang", "doc_id")
    )


SQL_SAMPLE_STRATIFIED = """
SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS n_chars
FROM documents
QUALIFY row_number() OVER (
  PARTITION BY lang
  ORDER BY md5(coalesce(CAST(text AS VARCHAR), '')), doc_id) <= 3
ORDER BY lang, doc_id
"""


def q_sample_hash(spark, sf_dir):
    """Deterministic Bernoulli-by-hash sample (25%, salted) — zero-shuffle,
    verdict-stable under corpus growth."""
    from .operators.sampling import hash_fraction_sample

    docs = _t(spark, sf_dir, "documents")
    return (
        hash_fraction_sample(docs, "text", 0.25, salt="s1")
        .select("doc_id")
        .orderBy("doc_id")
    )


SQL_SAMPLE_HASH = """
SELECT doc_id FROM documents
WHERE substr(md5('s1' || coalesce(CAST(text AS VARCHAR), '')), 1, 8)
      < '40000000'
ORDER BY doc_id
"""


def q_pack_sequences(spark, sf_dir):
    """GPT-style sequence packing layout (concatenate-and-chunk at
    seq_len=128 over 8 hash streams), summarized per stream.  The whole
    pack is one window shuffle + exact integer chunk math; the oracle
    replays hash order (md5 hex), running offsets, and chunk explosion
    in pure SQL."""
    from .operators.packing import pack_sequences, packing_stats

    docs = _t(spark, sf_dir, "documents")
    return packing_stats(pack_sequences(docs, 128, n_streams=8), 128)


SQL_PACK_SEQUENCES = f"""
WITH d AS (
  SELECT doc_id,
         md5(CAST(doc_id AS VARCHAR)) AS h,
         CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) % 8 AS BIGINT) AS stream,
         CAST(len(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS BIGINT) AS n_tokens
  FROM documents
), w AS (
  SELECT stream, doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY stream ORDER BY h, doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
  FROM d WHERE n_tokens > 0
), s AS (
  SELECT stream, doc_id, n_tokens, end_off - n_tokens AS start_off,
         unnest(generate_series((end_off - n_tokens) // 128,
                                (end_off - 1) // 128)) AS seq_id
  FROM w
), sl AS (
  SELECT stream, seq_id, doc_id,
         GREATEST(0, seq_id*128 - start_off) AS tok_start,
         LEAST(n_tokens, (seq_id+1)*128 - start_off) AS tok_end
  FROM s
)
SELECT stream, max(seq_id)+1 AS n_seqs, count(*) AS n_slices,
       CAST(sum(tok_end - tok_start) AS BIGINT) AS n_tokens,
       round(CAST(sum(tok_end - tok_start) AS DOUBLE)
             / ((max(seq_id)+1) * 128), 6) AS fill_ratio
FROM sl GROUP BY stream ORDER BY stream
"""


def q_pii_scrub(spark, sf_dir):
    """PII audit + redaction over a corpus with deterministically
    injected identifiers (the fixture carries none — the entry plants
    emails/IPs/hex keys by a closed-form doc_id rule both engines
    replay, the link_rank convention).  Per-language: detection counts,
    scrubbed length, and an md5-mod-2^16 content checksum of every
    scrubbed doc (power-of-two modulus keeps signed pmod == DuckDB's
    unsigned mod)."""
    from .operators.dedup import _md5_lower64
    from .operators.scrub import pii_staged_counts, scrub_pii

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    pii_text = F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" contact user"), did.cast("string"), F.lit("@example.com")
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 13 == 0,
            F.concat(
                F.lit(" from 10."),
                (did % 200 + 1).cast("string"),
                F.lit("."),
                (did % 250 + 1).cast("string"),
                F.lit(".7"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 17 == 0,
            F.concat(F.lit(" key "), F.md5(did.cast("string"))),
        ).otherwise(F.lit("")),
    )
    scrubbed = scrub_pii(pii_text)
    # staged counts (review r4h): each kind counted after the previous
    # kinds' redactions, so the totals reconcile with scrub_pii's actual
    # replacements — the oracle stages identically
    staged = dict(pii_staged_counts(pii_text))
    return (
        docs.select(
            "lang",
            staged["email"].alias("_e"),
            staged["ipv4"].alias("_i"),
            staged["hexkey"].alias("_k"),
            F.length(scrubbed).alias("_len"),
            F.pmod(_md5_lower64(scrubbed), F.lit(65536)).alias("_crc"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_e").cast("long").alias("n_email"),
            F.sum("_i").cast("long").alias("n_ipv4"),
            F.sum("_k").cast("long").alias("n_hexkey"),
            F.sum("_len").cast("long").alias("scrubbed_chars"),
            F.sum("_crc").cast("long").alias("scrub_crc"),
        )
        .orderBy("lang")
    )


def _sql_pii_scrub() -> str:
    from .operators.scrub import PII_PATTERNS

    # staged counting, mirroring scrub.pii_staged_counts: kind k counts
    # on the text AFTER kinds 1..k-1 were redacted
    expr = "pii_text"
    count_parts = []
    for name, pat, rep in PII_PATTERNS:
        count_parts.append(
            f"CAST(sum(len(regexp_extract_all({expr}, '{pat}'))) AS BIGINT)"
            f" AS n_{name}"
        )
        expr = f"regexp_replace({expr}, '{pat}', '{rep}', 'g')"
    counts = ", ".join(count_parts)
    return f"""
WITH p AS (
  SELECT lang,
         text
         || CASE WHEN doc_id % 7 = 0
              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
              ELSE '' END
         || CASE WHEN doc_id % 13 = 0
              THEN ' from 10.' || CAST(doc_id % 200 + 1 AS VARCHAR)
                   || '.' || CAST(doc_id % 250 + 1 AS VARCHAR) || '.7'
              ELSE '' END
         || CASE WHEN doc_id % 17 = 0
              THEN ' key ' || md5(CAST(doc_id AS VARCHAR))
              ELSE '' END AS pii_text
  FROM documents
), s AS (
  SELECT lang, pii_text, {expr} AS scrubbed FROM p
)
SELECT lang, count(*) AS n_docs, {counts},
       CAST(sum(length(scrubbed)) AS BIGINT) AS scrubbed_chars,
       CAST(sum(md5_number_lower(scrubbed) % 65536) AS BIGINT) AS scrub_crc
FROM s GROUP BY lang ORDER BY lang
"""


def q_gopher_repetition(spark, sf_dir):
    """Gopher-rule repetition filters (Rae et al. 2021 §A1.1): duplicate
    word-2-gram / 3-gram mass per language, plus how many docs cross the
    'more than half the n-grams are duplicates' bar.  Everything stays
    an INTEGER pair (dup, total) so aggregation order can't perturb a
    float sum and the >1/2 threshold is the exact integer inequality
    total < 2*dup — bit-replayable in any engine."""
    docs = _t(spark, sf_dir, "documents")
    # Stage the token array as a NAMED column before the n-gram lambdas.
    # word_ngrams references its input once per element; if that input is
    # the inline regexp_extract_all expression, tokenization re-runs
    # O(tokens) times per doc (measured 25x slower on long code docs).
    # CollapseProject keeps a non-cheap expr used many times as a real
    # projection, so this select is a genuine evaluate-once barrier.
    staged = docs.select("lang", _toks().alias("_tk"))
    tk = F.col("_tk")
    d2, t2 = textstats.dup_ngram_counts(tk, 2)
    d3, t3 = textstats.dup_ngram_counts(tk, 3)
    per_doc = staged.select(
        "lang",
        d2.alias("_d2"),
        t2.alias("_t2"),
        d3.alias("_d3"),
        t3.alias("_t3"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_d2").alias("dup2"),
            F.sum("_t2").alias("total2"),
            F.sum("_d3").alias("dup3"),
            F.sum("_t3").alias("total3"),
            F.sum(
                F.when(F.col("_t2") < 2 * F.col("_d2"), 1).otherwise(0)
            ).cast("long").alias("repetitive2"),
            F.sum(
                F.when(F.col("_t3") < 2 * F.col("_d3"), 1).otherwise(0)
            ).cast("long").alias("repetitive3"),
        )
        .orderBy("lang")
    )


SQL_GOPHER_REPETITION = f"""
WITH d AS (
  SELECT lang, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents
), g AS (
  SELECT lang,
         CASE WHEN len(toks) >= 2 THEN
           list_transform(generate_series(1, len(toks)-1),
                          i -> toks[i] || ' ' || toks[i+1])
           ELSE [] END AS g2,
         CASE WHEN len(toks) >= 3 THEN
           list_transform(generate_series(1, len(toks)-2),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
           ELSE [] END AS g3
  FROM d
), m AS (
  SELECT lang,
         CAST(len(g2) AS BIGINT) AS t2,
         CAST(len(g2) - len(list_distinct(g2)) AS BIGINT) AS d2,
         CAST(len(g3) AS BIGINT) AS t3,
         CAST(len(g3) - len(list_distinct(g3)) AS BIGINT) AS d3
  FROM g
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(d2) AS BIGINT) AS dup2,  CAST(sum(t2) AS BIGINT) AS total2,
       CAST(sum(d3) AS BIGINT) AS dup3,  CAST(sum(t3) AS BIGINT) AS total3,
       CAST(sum(CASE WHEN t2 < 2*d2 THEN 1 ELSE 0 END) AS BIGINT) AS repetitive2,
       CAST(sum(CASE WHEN t3 < 2*d3 THEN 1 ELSE 0 END) AS BIGINT) AS repetitive3
FROM m GROUP BY lang ORDER BY lang
"""


_DUP_SPAN_N = 8


def q_dup_spans(spark, sf_dir):
    """Cross-doc duplicated-SPAN accounting (Lee et al. 2021 substring
    dedup, at token-8-gram resolution): per language, how many n-gram
    starts recur in >=2 distinct docs and how many TOKENS the union of
    those [pos, pos+8) intervals covers — the interval union is exact
    (one lead() window per doc), and every measure is an integer so the
    majority-duplicated drop rule is the inequality 2*covered > tokens."""
    docs = _t(spark, sf_dir, "documents")
    per_doc = dedup.dup_span_doc_stats(
        docs, "doc_id", "text", n=_DUP_SPAN_N, min_docs=2, keep_cols=("lang",)
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("total_ngrams").alias("total_ngrams"),
            F.sum("dup_ngrams").alias("dup_ngrams"),
            F.sum("covered_tokens").alias("covered_tokens"),
            F.sum(
                F.when(
                    2 * F.col("covered_tokens") > F.col("n_tokens"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("majority_dup_docs"),
        )
        .orderBy("lang")
    )


SQL_DUP_SPANS = f"""
WITH d AS (
  SELECT doc_id, lang, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents
), base AS (
  SELECT doc_id, lang,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(greatest(len(toks) - {_DUP_SPAN_N} + 1, 0) AS BIGINT) AS total_ngrams,
         toks
  FROM d
), ge AS (
  SELECT doc_id, s['pos'] AS pos, s['h'] AS h
  FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, greatest(len(toks) - {_DUP_SPAN_N} + 1, 0)),
             i -> struct_pack(
               pos := i - 1,
               h := md5_number_lower(
                 array_to_string(toks[i : i + {_DUP_SPAN_N} - 1], ' '))))) AS s
    FROM d
  )
), dup AS (
  SELECT h FROM ge GROUP BY h HAVING count(DISTINCT doc_id) >= 2
), m AS (
  SELECT ge.doc_id, ge.pos FROM ge JOIN dup USING (h)
), cov0 AS (
  SELECT doc_id, least({_DUP_SPAN_N},
           coalesce(lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos,
                    {_DUP_SPAN_N})) AS c
  FROM m
), cov AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_ngrams,
         CAST(sum(c) AS BIGINT) AS covered_tokens
  FROM cov0 GROUP BY doc_id
), j AS (
  SELECT base.lang, base.n_tokens, base.total_ngrams,
         coalesce(cov.dup_ngrams, 0) AS dup_ngrams,
         coalesce(cov.covered_tokens, 0) AS covered_tokens
  FROM base LEFT JOIN cov USING (doc_id)
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(total_ngrams) AS BIGINT) AS total_ngrams,
       CAST(sum(dup_ngrams) AS BIGINT) AS dup_ngrams,
       CAST(sum(covered_tokens) AS BIGINT) AS covered_tokens,
       CAST(sum(CASE WHEN 2*covered_tokens > n_tokens THEN 1 ELSE 0 END)
            AS BIGINT) AS majority_dup_docs
FROM j GROUP BY lang ORDER BY lang
"""


def q_dup_span_scrub(spark, sf_dir):
    """The rewrite half of substring dedup: remove every token inside a
    cross-doc duplicated 8-gram span, rebuild docs from the survivors,
    and certify the EXACT cleaned corpus per language with an
    md5-mod-2^16 content checksum (pii_scrub convention — power-of-two
    modulus keeps Spark's signed pmod == DuckDB's unsigned mod)."""
    docs = _t(spark, sf_dir, "documents")
    cleaned = dedup.remove_dup_spans(
        docs, "doc_id", "text", n=_DUP_SPAN_N, min_docs=2, keep_cols=("lang",)
    )
    return (
        cleaned.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("kept_tokens").alias("kept_tokens"),
            (F.sum("n_tokens") - F.sum("kept_tokens")).alias("removed_tokens"),
            F.sum(F.pmod(dedup._md5_lower64(F.col("kept_text")), F.lit(65536)))
            .cast("long")
            .alias("scrub_crc"),
        )
        .orderBy("lang")
    )


SQL_DUP_SPAN_SCRUB = f"""
WITH d AS (
  SELECT doc_id, lang, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents
), ge AS (
  SELECT doc_id, s['pos'] AS pos, s['h'] AS h
  FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, greatest(len(toks) - {_DUP_SPAN_N} + 1, 0)),
             i -> struct_pack(
               pos := i - 1,
               h := md5_number_lower(
                 array_to_string(toks[i : i + {_DUP_SPAN_N} - 1], ' '))))) AS s
    FROM d
  )
), dup AS (
  SELECT h FROM ge GROUP BY h HAVING count(DISTINCT doc_id) >= 2
), covpos AS (
  SELECT DISTINCT ge.doc_id, unnest(generate_series(pos, pos + {_DUP_SPAN_N} - 1)) AS cpos
  FROM ge JOIN dup USING (h)
), cov AS (
  SELECT doc_id, array_agg(cpos) AS cps FROM covpos GROUP BY doc_id
), k AS (
  SELECT d.lang,
         CAST(len(d.toks) AS BIGINT) AS n_tokens,
         CASE WHEN cov.cps IS NULL THEN d.toks
              ELSE list_filter(d.toks, (x, i) -> NOT list_contains(cov.cps, i - 1))
         END AS kept
  FROM d LEFT JOIN cov USING (doc_id)
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(len(kept)) AS BIGINT) AS kept_tokens,
       CAST(sum(n_tokens) - sum(len(kept)) AS BIGINT) AS removed_tokens,
       CAST(sum(md5_number_lower(coalesce(array_to_string(kept, ' '), ''))
                % 65536)
            AS BIGINT) AS scrub_crc
FROM k GROUP BY lang ORDER BY lang
"""
# ^ coalesce: DuckDB's array_to_string of an EMPTY list is NULL (a doc whose
#   every token sits in a duplicated span), Spark's array_join is '' — both
#   engines must checksum md5('') for fully-scrubbed docs, not skip them.


def q_lm_perplexity(spark, sf_dir):
    """Bigram-LM perplexity quality filter (the CCNet shape, Wenzek et
    al. 2020): fit an add-1 bigram model on the REFERENCE slice
    (lang='en' plays Wikipedia), score every document by mean token
    log-probability, aggregate per language.  In-domain (en) text must
    score strictly better than out-of-domain — the model-based twin of
    the heuristic quality battery.  Compared floats are per-lang means
    rounded to 4 decimals (per-term libm drift is ~1e-15, twelve orders
    below the grid); every count is an exact BIGINT."""
    from .operators import quality_ml

    docs = _t(spark, sf_dir, "documents")
    lm = quality_ml.train_bigram_lm(docs.where(F.col("lang") == "en"))
    scored = quality_ml.score_docs_lm(docs, lm).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bigrams").alias("sum_bigrams"),
            F.round(F.avg("avg_logprob"), 4).alias("mean_logprob"),
            F.sum(
                F.when(F.col("avg_logprob") < -7.0, 1).otherwise(0)
            ).cast("long").alias("n_low"),
        )
        .orderBy("lang")
    )


_LM_PAIRS = """unnest(list_transform(
             generate_series(1, greatest(len(toks) - 1, 0)),
             i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS s"""

SQL_LM_PERPLEXITY = f"""
WITH d AS (
  SELECT doc_id, lang, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents
), rp AS (
  SELECT s['w1'] AS w1, s['w2'] AS w2
  FROM (SELECT {_LM_PAIRS} FROM d WHERE lang = 'en')
), pc AS (
  SELECT w1, w2, count(*) AS c12 FROM rp GROUP BY 1, 2
), cc AS (
  SELECT w1, sum(c12) AS c1 FROM pc GROUP BY 1
), v AS (
  SELECT count(DISTINCT t) + 1 AS vocab
  FROM (SELECT unnest(toks) AS t FROM d WHERE lang = 'en')
), dp AS (
  SELECT doc_id, lang, s['w1'] AS w1, s['w2'] AS w2, count(*) AS cnt
  FROM (SELECT doc_id, lang, {_LM_PAIRS} FROM d)
  GROUP BY 1, 2, 3, 4
), sc AS (
  SELECT dp.doc_id, any_value(dp.lang) AS lang,
         sum(dp.cnt) AS n_bigrams,
         sum(dp.cnt * (ln(coalesce(pc.c12, 0) + 1.0)
                       - ln(coalesce(cc.c1, 0)
                            + 1.0 * (SELECT vocab FROM v))))
           / sum(dp.cnt) AS avg_lp
  FROM dp LEFT JOIN pc USING (w1, w2) LEFT JOIN cc USING (w1)
  GROUP BY dp.doc_id
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bigrams) AS BIGINT) AS sum_bigrams,
       round(avg(avg_lp), 4) AS mean_logprob,
       CAST(sum(CASE WHEN avg_lp < -7.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_low
FROM sc GROUP BY lang ORDER BY lang
"""

_PERC_DIM = 512  # power of two: signed pmod (Spark) == unsigned % (DuckDB)


def q_quality_perceptron(spark, sf_dir):
    """fastText-style hashed linear classifier, trained IN SPARK with a
    3-epoch full-batch integer perceptron (label: lang='en' vs rest) and
    served back over the corpus.  Every margin/gradient/weight is an
    integer, so training itself is bit-replayable in the oracle — the
    SQL twin chains three join+groupBy CTE blocks, one per epoch, and
    must land on the identical BIGINT weight vector and margins."""
    from .operators import quality_ml

    docs = _t(spark, sf_dir, "documents")
    labels = docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(-1)).alias("y"),
    )
    feats = quality_ml.hashed_features(docs, dim=_PERC_DIM)
    w = quality_ml.train_perceptron(feats, labels, epochs=3)
    scored = (
        quality_ml.score_linear(feats, w)
        .join(labels, "doc_id")
        .join(docs.select("doc_id", "lang"), "doc_id")
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("margin") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_pos_pred"),
            F.sum(F.when(F.col("y") * F.col("margin") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
            F.sum("margin").alias("sum_margin"),
        )
        .orderBy("lang")
    )


SQL_QUALITY_PERCEPTRON = f"""
WITH d AS (
  SELECT doc_id, lang,
         CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
         regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
  FROM documents
), f AS (
  SELECT doc_id, any_value(lang) AS lang, any_value(y) AS y,
         CAST(md5_number_lower(t) % {_PERC_DIM} AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, lang, y, unnest(toks) AS t FROM d)
  GROUP BY doc_id, md5_number_lower(t) % {_PERC_DIM}
), w1 AS (  -- epoch 1 from w=0: margin 0 counts as misclassified -> all docs
  SELECT bucket, sum(y * cnt) AS w FROM f GROUP BY 1
), m1 AS (
  SELECT f.doc_id AS doc_id, any_value(f.y) AS my,
         sum(f.cnt * w1.w) AS margin
  FROM f JOIN w1 USING (bucket) GROUP BY f.doc_id
), g1 AS (
  SELECT f.bucket, sum(f.y * f.cnt) AS dw
  FROM f JOIN m1 ON f.doc_id = m1.doc_id
  WHERE m1.my * m1.margin <= 0 GROUP BY 1
), w2 AS (  -- every bucket is already in w1 (epoch 1 saw all docs)
  SELECT w1.bucket, w1.w + coalesce(g1.dw, 0) AS w
  FROM w1 LEFT JOIN g1 ON w1.bucket = g1.bucket
), m2 AS (
  SELECT f.doc_id AS doc_id, any_value(f.y) AS my,
         sum(f.cnt * w2.w) AS margin
  FROM f JOIN w2 USING (bucket) GROUP BY f.doc_id
), g2 AS (
  SELECT f.bucket, sum(f.y * f.cnt) AS dw
  FROM f JOIN m2 ON f.doc_id = m2.doc_id
  WHERE m2.my * m2.margin <= 0 GROUP BY 1
), w3 AS (
  SELECT w2.bucket, w2.w + coalesce(g2.dw, 0) AS w
  FROM w2 LEFT JOIN g2 ON w2.bucket = g2.bucket
), m3 AS (
  SELECT f.doc_id AS doc_id, any_value(f.lang) AS lang,
         any_value(f.y) AS my, sum(f.cnt * w3.w) AS margin
  FROM f JOIN w3 USING (bucket) GROUP BY f.doc_id
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN margin > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pos_pred,
       CAST(sum(CASE WHEN my * margin > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       CAST(sum(margin) AS BIGINT) AS sum_margin
FROM m3 GROUP BY lang ORDER BY lang
"""


# multi-pattern regex rule table (Java ∩ RE2 subset; rule 3 has no safe
# required literal -> exercises the honest per-rule full-scan fallback)
_REGEX_RULES = [
    (1, "[a-z0-9]+ join [a-z0-9]+"),
    (2, "(hash|merge) sort"),
    (3, "[0-9][0-9][0-9]+"),
]


def q_regex_rules(spark, sf_dir):
    """Multi-pattern regex scan (plans/regex.py regex_rules_scan): N
    policy rules against the corpus in ONE pass — per-rule required-
    literal token prefilter (broadcast rule relations, one tokenize
    scan), column-pattern regex verify only on candidate (doc, rule)
    pairs; rules with no safe literal fall back to every doc for that
    rule only.  Oracle = the full cross-product regexp in SQL, so a
    green hash proves per-rule prefilter recall + count parity."""
    from .plans.regex import regex_rules_scan

    docs = _t(spark, sf_dir, "documents")
    return regex_rules_scan(docs, _REGEX_RULES, text_col="text").orderBy(
        "rule_id", "doc_id"
    )


def _sql_regex_rules() -> str:
    rule_vals = ", ".join(f"({r}, '{p}')" for r, p in _REGEX_RULES)
    return f"""
SELECT d.doc_id, r.rule_id,
       CAST(len(regexp_extract_all(d.text, r.pattern)) AS BIGINT)
         AS n_matches
FROM documents d CROSS JOIN (VALUES {rule_vals}) AS r(rule_id, pattern)
WHERE len(regexp_extract_all(d.text, r.pattern)) > 0
ORDER BY rule_id, doc_id
"""


_PERC_QUERIES = [
    (1, "spark join"),
    (2, "vector OR stream"),
    (3, "table -join"),
    (4, "hash merge sort"),
]


def q_percolate(spark, sf_dir):
    """Reverse search (the Elasticsearch-percolator shape): standing
    queries become broadcast relations, documents are the probe stream
    scanned once; a doc matches a query when every AND-slot has a
    present member and no negative term appears.  The oracle replays
    the identical compiled relations as VALUES lists, so Spark and
    DuckDB derive from the SAME parse."""
    from .operators.percolate import compile_queries, percolate

    docs = _t(spark, sf_dir, "documents")
    pq = compile_queries(_PERC_QUERIES)
    return (
        percolate(docs, pq)
        .select(F.col("doc_id").cast("long"), F.col("query_id").cast("long"))
        .orderBy("query_id", "doc_id")
    )


def _sql_percolate() -> str:
    # the same fused single-join shape as operators/percolate.percolate:
    # positives and negatives ride one rule relation with a sign column,
    # and the match condition is one grouped HAVING.  Token grammar is
    # the engine's SIMPLE_TOKEN_RE ([a-z0-9_]+ — parse_query's charset).
    from .operators.percolate import compile_queries

    pq = compile_queries(_PERC_QUERIES)
    rule_vals = ", ".join(
        [f"({q}, {s}, '{t}', FALSE)" for q, s, t in pq.pos]
        + [f"({q}, -1, '{t}', TRUE)" for q, t in pq.neg]
    )
    meta_vals = ", ".join(f"({q}, {n})" for q, n in pq.meta)
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(regexp_extract_all(lower(text), '[a-z0-9_]+')))
           AS tok
  FROM documents
),
hits AS (
  SELECT DISTINCT t.doc_id, q.query_id, q.slot, q.is_neg
  FROM toks t
  JOIN (VALUES {rule_vals}) AS q(query_id, slot, term, is_neg)
    ON t.tok = q.term
)
SELECT h.doc_id, CAST(h.query_id AS BIGINT) AS query_id
FROM hits h
JOIN (VALUES {meta_vals}) AS qm(query_id, n_slots) USING (query_id)
GROUP BY h.doc_id, h.query_id, qm.n_slots
HAVING count(DISTINCT CASE WHEN NOT h.is_neg THEN h.slot END) = qm.n_slots
   AND max(CASE WHEN h.is_neg THEN 1 ELSE 0 END) = 0
ORDER BY query_id, doc_id
"""


# The driver's correctness gate evaluates exactly the FIRST 50 registry
# entries (r2 verdict: the engine_* entries sat at positions 52-66 and were
# never driver-checked).  ORDER below pins the window composition: positions
# 0-49 hold the stored-index engine entries plus every UNIQUE operator;
# positions 50+ hold redundant ad-hoc analogs whose semantics are already
# certified by an in-window twin (kept for API breadth + pytest coverage).
def q_c4_filters(spark, sf_dir):
    """C4-style heuristic filter battery (Raffel et al. 2020 §2.2) over
    pages with deterministically synthesized line structure (the fixture
    text is single-line — the entry builds pages by a closed-form
    doc_id/text rule both engines replay, the pii_scrub convention):
    sentence boundaries injected at ' the '/' a ' gaps, plus per-doc_id
    marker lines exercising every rule (javascript line, lorem-ipsum
    page, curly-brace page, bad-word page, a 2-word line, a trailing
    no-punctuation fragment).  Per-language: page/line totals, survivors
    of the line rules (terminal punct + >=3 words + no 'javascript') and
    page rules (>=3 kept lines, no poison markers), cleaned-corpus chars
    and an md5-mod-2^16 checksum of every cleaned page.  The whole
    battery is scan-fused codegen — the one shuffle is this aggregate."""
    from .operators import c4
    from .operators.dedup import _md5_lower64

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    page = F.concat(
        F.regexp_replace(F.col("text"), " (the|a) ", ".|"),
        F.when(did % 7 == 0, F.lit("|contains javascript tracker.")).otherwise(
            F.lit("")
        ),
        F.when(did % 11 == 0, F.lit("|lorem ipsum dolor sit.")).otherwise(
            F.lit("")
        ),
        F.when(did % 13 == 0, F.lit("|code block { return 0; }.")).otherwise(
            F.lit("")
        ),
        F.when(did % 17 == 0, F.lit("|this mentions badword here.")).otherwise(
            F.lit("")
        ),
        F.lit("|short one.|tail fragment without punct"),
    )
    # page -> lines staged as NAMED columns, then the battery via the
    # operator's own staged transform (the gopher_repetition lesson —
    # inline array exprs referenced k times re-evaluate k times)
    lines = docs.select("lang", page.alias("_page")).withColumn(
        "_lines", F.split(F.col("_page"), "[|]")
    )
    cleaned = c4.with_c4_columns(lines, "_lines", "_page")
    per_page = cleaned.select(
        "lang",
        F.col("n_lines").alias("_nl"),
        F.col("n_kept_lines").alias("_nk"),
        F.col("page_kept").cast("int").alias("_keep"),
        F.length(F.col("clean_text")).alias("_len"),
        F.pmod(_md5_lower64(F.col("clean_text")), F.lit(65536)).alias("_crc"),
    )
    return (
        per_page.groupBy("lang")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum("_keep").cast("long").alias("pages_kept"),
            F.sum("_nl").cast("long").alias("lines_total"),
            F.sum("_nk").cast("long").alias("lines_kept"),
            F.sum("_len").cast("long").alias("clean_chars"),
            F.sum("_crc").cast("long").alias("clean_crc"),
        )
        .orderBy("lang")
    )


def _sql_c4_filters() -> str:
    from .operators.c4 import (
        BAD_WORDS,
        MIN_LINES_PER_PAGE,
        MIN_WORDS_PER_LINE,
        TERMINAL_RE,
        WORD_RE,
    )

    bad = "|".join(BAD_WORDS)
    return f"""
WITH p AS (
  SELECT lang,
         regexp_replace(text, ' (the|a) ', '.|', 'g')
         || CASE WHEN doc_id % 7 = 0
              THEN '|contains javascript tracker.' ELSE '' END
         || CASE WHEN doc_id % 11 = 0
              THEN '|lorem ipsum dolor sit.' ELSE '' END
         || CASE WHEN doc_id % 13 = 0
              THEN '|code block {{ return 0; }}.' ELSE '' END
         || CASE WHEN doc_id % 17 = 0
              THEN '|this mentions badword here.' ELSE '' END
         || '|short one.|tail fragment without punct' AS page
  FROM documents
), l AS (
  SELECT lang, page, string_split(page, '|') AS lines FROM p
), k AS (
  SELECT lang, page, len(lines) AS n_lines,
         list_filter(lines, x ->
           regexp_matches(x, '{TERMINAL_RE}')
           AND len(regexp_extract_all(lower(x), '{WORD_RE}'))
               >= {MIN_WORDS_PER_LINE}
           AND NOT contains(lower(x), 'javascript')) AS kept
  FROM l
), d AS (
  SELECT lang, n_lines, len(kept) AS n_kept,
         (len(kept) >= {MIN_LINES_PER_PAGE}
          AND NOT contains(lower(page), 'lorem ipsum')
          AND NOT contains(page, '{{')
          AND NOT regexp_matches(lower(page), '\\b({bad})\\b')) AS keep,
         kept
  FROM k
), c AS (
  SELECT lang, n_lines, n_kept, keep,
         CASE WHEN keep
           THEN coalesce(array_to_string(kept, ' '), '') ELSE '' END AS clean
  FROM d
)
SELECT lang,
       count(*) AS n_pages,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS pages_kept,
       CAST(sum(n_lines) AS BIGINT) AS lines_total,
       CAST(sum(n_kept) AS BIGINT) AS lines_kept,
       CAST(sum(length(clean)) AS BIGINT) AS clean_chars,
       CAST(sum(md5_number_lower(clean) % 65536) AS BIGINT) AS clean_crc
FROM c GROUP BY lang ORDER BY lang
"""


_MIX_TEMP_TARGET = 200


def q_mix_temperature(spark, sf_dir):
    """Temperature-rebalanced (τ = 2) corpus mix over the skewed language
    distribution: per-stratum quotas ∝ sqrt(n_s/N) snapped to integer
    micro-units (sqrt is IEEE correctly-rounded in every engine, so the
    one float step is bit-reproducible; everything after is BIGINT), then
    content-keyed (md5(text), doc_id) rank selection within each
    stratum.  Per-language summary certifies the quota MATH and the
    exact selection SET (md5-mod-2^16 checksum of selected doc ids)."""
    from .operators.dedup import _md5_lower64
    from .operators.sampling import temperature_mix, temperature_quotas

    docs = _t(spark, sf_dir, "documents")
    # one quota relation shared by selection AND the summary (computing
    # it twice would run the corpus count agg as two jobs)
    quotas = temperature_quotas(docs, "lang", _MIX_TEMP_TARGET)
    sel = temperature_mix(
        docs, "lang", _MIX_TEMP_TARGET, "text", "doc_id", quotas=quotas
    )
    agg = sel.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_selected"),
        F.sum(
            F.pmod(_md5_lower64(F.col("doc_id").cast("string")), F.lit(65536))
        )
        .cast("long")
        .alias("sel_crc"),
    )
    return (
        quotas.select(
            "lang",
            F.col("_cnt").alias("n_docs"),
            F.col("_quota").alias("quota"),
        )
        .join(agg, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "quota",
            F.coalesce(F.col("n_selected"), F.lit(0)).alias("n_selected"),
            F.coalesce(F.col("sel_crc"), F.lit(0)).alias("sel_crc"),
        )
        .orderBy("lang")
    )


SQL_MIX_TEMPERATURE = f"""
WITH c AS (
  SELECT lang, count(*) AS cnt FROM documents GROUP BY lang
), t AS (
  SELECT lang, cnt,
         CAST(round(sqrt(CAST(cnt AS DOUBLE)
                         / (SELECT sum(cnt) FROM c)) * 1000000) AS BIGINT)
           AS ps
  FROM c
), q AS (
  SELECT lang, cnt,
         least(cnt, ({_MIX_TEMP_TARGET} * ps) // (SELECT sum(ps) FROM t))
           AS quota
  FROM t
), r AS (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(coalesce(CAST(text AS VARCHAR), '')), doc_id) AS rn
  FROM documents
), s AS (
  SELECT r.lang, r.doc_id FROM r JOIN q USING (lang) WHERE r.rn <= q.quota
)
SELECT q.lang,
       q.cnt AS n_docs,
       CAST(q.quota AS BIGINT) AS quota,
       CAST(count(s.doc_id) AS BIGINT) AS n_selected,
       CAST(coalesce(
         sum(md5_number_lower(CAST(s.doc_id AS VARCHAR)) % 65536), 0)
         AS BIGINT) AS sel_crc
FROM q LEFT JOIN s ON q.lang = s.lang
GROUP BY q.lang, q.cnt, q.quota ORDER BY q.lang
"""


_WINDOW = [
    # stored-index engine lifecycle (build -> WAND/exhaustive -> serp)
    # late-r4: engine_bm25_single moved to the tail — single-term scoring
    # is the one-slot case of every in-window AND/OR entry (identical
    # per-slot math, relaxed HAVING) and stays CI-certified there; its
    # seat goes to multi-collection FEDERATED search (SURVEY §1
    # "collections", Collectiondb/&c= — two independent namespace
    # indexes, per-collection stats, merged SERP), a genuinely new
    # capability whose oracle recomputes BM25 per corpus half
    # r5: the COMPOSED batch×federation entry takes the seat (strictly
    # stronger claim: N queries × M collections in one driver row;
    # single-query federation is its N=1 case and stays tail-CI)
    "engine_federated_batch",
    # late-r4: engine_bm25_and2 moved to the tail — the same slot-count
    # twin argument that moved and3 there (J1 N-way intersection stays
    # in-window via engine_bm25_batch's 3-term AND member, engine_bm25_neg
    # and every multi-slot entry; and2 stays tail-CI-certified).  Its
    # seat goes to regex_rules, the multi-pattern regex scan (N policy
    # rules, one corpus pass, per-rule literal prefilter) — a genuinely
    # new operator whose oracle is the full cross-product regexp
    "regex_rules",
    # engine_bm25_and3 moved to the tail r4 (a slot-count twin of and2 —
    # same J1 N-way intersection; 3-term ANDs also ride in-window via
    # engine_bm25_batch's members); its seat goes to the AS-OF snapshot
    # read, a genuinely new capability
    "engine_time_travel",
    "engine_bm25_neg",
    # engine_bm25_or moved to the tail: OR-group slot semantics stay
    # in-window twice over (engine_synonyms weighted OR-groups + the OR
    # member of engine_bm25_batch), and the batch path is a new unique
    # operator (one job answering N queries)
    "engine_bm25_batch",
    "engine_phrase",
    "engine_synonyms",
    "engine_boolean",
    # late-r4: engine_latest_wins (tombstones from a LITERAL id list)
    # moved to the tail — engine_query_delete is the strictly stronger
    # claim with identical merge-on-read visibility semantics: the
    # tombstone set comes from delete_by_query's distributed match-docs
    # harvest (PageReindex/Msg1c), and the oracle derives the exclusion
    # from the same query instead of hard-coded ids
    "engine_query_delete",
    "engine_compacted",
    "engine_incremental",
    "engine_total_hits",
    "engine_facets",
    "engine_lang_boost",
    "engine_proximity",
    # index-backed stats / serp ops under their original names
    # late-r4: tf moved to the tail — per-(term,doc) tf feeds every
    # in-window engine BM25 hash (same transitive argument that moved
    # collstats), and the tail CI test certifies it directly every run;
    # its seat goes to lm_perplexity, the CCNet-shape model-based quality
    # filter (bigram LM fitted in Spark on a reference slice, scored over
    # the corpus, oracle replays training AND scoring in SQL)
    "lm_perplexity",
    # r5: termstats moved to the tail — A2 df/cf are read VERBATIM by the
    # in-window spell_suggest / engine_mlt / collocation-family oracles
    # and feed every engine BM25 hash; its seat goes to pack_sequences,
    # the GPT-style concatenate-and-chunk layout (window cumsum + exact
    # integer chunk math, >2^53-safe), never driver-certified before
    "pack_sequences",
    # r4: collstats moved to the tail — N/avgdl are transitively certified
    # by every in-window engine BM25 hash (they feed the scoring math);
    # its seat goes to engine_anchor, the LinkInfo anchor-text-in-target
    # feature (J7 parity: injected anchor: termlists answered from the
    # stored index)
    "engine_anchor",
    # r5: gigabits moved to the tail — A7 related-term selection is
    # embedded in in-window engine_mlt (single-doc gigabits -> match-any
    # retrieval) and stays tail-CI via engine_gigabits/collocations; its
    # seat goes to dup_span_scrub, the substring-dedup REWRITE (8-gram
    # span removal + cleaned-corpus checksum), never driver-certified
    "dup_span_scrub",
    "spell_suggest",
    # late-r4: serp_dedup moved to the tail — W3 keep-first-per-site is
    # the rank<=1 case of the same serp window certified in-window by
    # site_cluster (W1 top-2-per-site), and the tail CI test checks it
    # directly every run; its seat goes to engine_regex, indexed regex
    # search (the Code Search / Zoekt prefilter over stored termlists —
    # a genuinely new retrieval capability whose full-scan oracle proves
    # 100% prefilter recall)
    "engine_regex",
    "snippet",
    # r5: search_facets moved to the tail — A4 facet aggregation stays
    # in-window via engine_facets (and facet_ranges/embed_facets in the
    # CI tail); its seat goes to engine_search_after, keyset deep paging
    # through the WAND kernel (T3 at scale: cursor admission predicate on
    # the heap — page n costs page-1 money), never driver-certified
    "engine_search_after",
    # r4: facet_ranges moved to the tail (facet aggregation stays
    # certified in-window twice: engine_facets + search_facets); its seat
    # goes to the URL-filters DSL — F9 converted from out-of-scope to a
    # first-class operator (ordered rule table -> one CASE projection)
    "url_filters",
    "site_cluster",
    "bm25_lang",
    # r5: agg_pricing / join_enrich moved to the tail — A5 partial→final
    # agg is in-window via metrics_rollup + every engine agg; J9
    # broadcast meta enrich rides every enrich=True engine row.  Their
    # seats go to two never-driver-certified curation ops: the C4
    # heuristic cleaning battery and the Gopher duplicate-n-gram
    # repetition filters (both with full SQL-replay oracles)
    "c4_filters",
    "gopher_repetition",
    # late-r4: semi_join moved to the tail — J2 left-semi semantics are
    # certified in-window by engine_regex (candidate semi-join into the
    # corpus) and decontam_ngram (broadcast gram semi-join), and the
    # tail CI test checks the relational twin directly every run.  Its
    # seat goes to engine_changelog, snapshot CDC (the Iceberg
    # incremental read over the snapshot log — live-set diff between
    # pins, segment-diff fast path), a genuinely new capability whose
    # oracle replays both fixture mutation windows from the raw corpus
    "engine_changelog",
    # r4: window_top2 moved to the tail — W1 top-2-per-site stays
    # certified in-window by site_cluster (the same window over the serp);
    # its seat goes to the link-rank join, J7 converted from out-of-scope
    # to a first-class operator (graph inversion + static-prior rank join)
    "link_rank",
    # late-r4: numeric_range moved to the tail — F1 key-range constrain
    # is certified transitively by every in-window engine entry's pruned
    # termlist scan (the same PushedFilters path) and F7 numeric
    # predicates by in-window engine_sortby's num: value termlists; the
    # tail CI test checks it directly every run.  Its seat goes to
    # percolate — reverse search (standing queries matched against the
    # doc stream), a genuinely new operator family whose oracle replays
    # the identical compiled query relations
    "percolate",
    # r4: the crawl-frontier dole dequeue (R5 converted from out-of-scope
    # to a first-class scheduling relation: per-host rank window +
    # exponential error backoff) takes paging's seat — T3's
    # sort+offset+limit stays certified in-window transitively (every
    # engine entry is a sort+limit plan; engine_sortby is the sorted-scan
    # path); paging moves to the tail where test_registry_tail_oracles
    # certifies it every CI run
    "frontier_dole",
    "metrics_rollup",
    # r4 session 2: iterative fixed-point PageRank takes json_flatten's
    # seat — X11's get_json_object projection is a single built-in whose
    # twin stays CI-certified in the tail every run, while pagerank is a
    # genuinely new operator CLASS (materialized Pregel supersteps,
    # all-BIGINT recurrence) whose oracle replays every superstep as a
    # MATERIALIZED CTE block
    "pagerank",
    # r4: train/test decontamination (n-gram collision vs a broadcast eval
    # set) takes set_ops' seat — U2's EXCEPT/INTERSECT semantics stay
    # certified in-window by engine_bm25_neg (anti-join/EXCEPT) and
    # semi_join (INTERSECT); set_ops moves to the tail where
    # test_registry_tail_oracles certifies it every CI run
    "decontam_ngram",
    # T4 from the stored index (num: lookup termlist) — the relational
    # orderBy twin "sortby_field" moved to the tail, its semantics being
    # covered in-window by paging (sort+limit) and this entry
    "engine_sortby",
    # training-data pipeline ops
    "dedup_exact",
    # r4: near-dup CLUSTERING (simhash pairs -> connected components ->
    # canonical keep/drop sheet) takes ngram_jaccard's seat — the exact
    # n-gram jaccard verify it adds over minhash_lsh is already the
    # in-window minhash_lsh entry's ORACLE (SQL_MINHASH_LSH is the exact
    # all-pairs jaccard); ngram_jaccard moves to the tail
    "dedup_clusters",
    "token_stats_bpe",
    # late-r4: quality_full moved to the tail — its quality-gate CASE
    # expressions are embedded verbatim inside in-window training_mix's
    # oracle, and the tail CI test certifies the full battery directly
    # every run; its seat goes to quality_perceptron, the fastText-shape
    # hashed linear classifier whose INTEGER perceptron training is
    # bit-replayed by the oracle (training itself is driver-certified,
    # not just serving)
    "quality_perceptron",
    # late-r4: langid moved to the tail — its stopword-ratio classifier
    # is embedded VERBATIM (same CASE expression) inside training_mix's
    # oracle, which takes the seat: the composed curation pipeline
    # (quality gate -> language gate -> exact dedup -> per-source quota)
    # is the operator a 100-TB pretraining corpus actually runs, and its
    # oracle replays all four stages
    "training_mix",
    # r4 (late): int8 scalar-quantized ANN with full-precision re-rank
    # takes fingerprint's seat — X12 checksum semantics stay certified
    # in-window by dedup_exact (md5 grouping) and by the sha256 row
    # invariant pytest; the quantization pipeline is a NEW claim whose
    # oracle replays both stages in SQL, so it earns the driver row
    "ann_quantized",
    # r4: more-like-this (A7 single-doc gigabits -> U1 match-any BM25)
    # and hybrid BM25+cosine RRF fusion — the two new operators take the
    # window seats of ann_cosine (its exact-cosine oracle is embedded
    # verbatim inside hybrid_rrf's ann CTE, and ann_ivf's full-probe
    # oracle is the identical SQL) and multimodal_meta (the weaker twin
    # of in-window multimodal_features); both moved to the tail where
    # test_registry_tail_oracles certifies them every CI run
    "engine_mlt",
    "hybrid_rrf",
    # IVF is the strictly newer ANN claim (r3); ann_lsh moved to the tail —
    # both share the identical full-probe==exact oracle (SQL_ANN_COSINE)
    "ann_ivf",
    # r4 (final): SEMANTIC dedup (cosine pairs -> connected components ->
    # canonical sheet) takes pairwise_cosine's seat — its oracle embeds
    # the IDENTICAL rounded-cosine pair-membership SQL and adds the
    # transitive closure on top, so it is the strictly stronger claim;
    # pairwise_cosine moves to the tail where test_registry_tail_oracles
    # certifies it every CI run
    "semantic_dedup",
    # r4: typeahead prefix completion over the stored dictionary takes
    # embed_facets' seat (facet aggregation is certified in-window three
    # ways: engine_facets, search_facets, facet_ranges); embed_facets
    # moves to the tail
    # r5: prefix_suggest moved to the tail (dictionary-read + df-ranked
    # shape is in-window spell_suggest's plan with a prefix instead of a
    # length-band filter); its seat goes to mix_temperature, the τ=2
    # temperature-rebalanced training mix (data-derived sqrt quotas in
    # integer micro-units), never driver-certified before
    "mix_temperature",
    # r5: minhash_lsh moved to the tail — banded candidate generation +
    # exact verify is driver-certified in-window twice over
    # (dedup_clusters replays the banded simhash pair set through the
    # closure; semantic_dedup the hyperplane-banded cosine pairs), and
    # the exact-jaccard oracle stays CI-certified in the tail.  Its seat
    # goes to semantic_decontam, the embedding-side decontamination
    # (broadcast eval matrix, rounded-cosine membership), never
    # driver-certified before
    "semantic_decontam",
    # r4: MMR diversified top-k takes simhash's seat — the simhash
    # pipeline (signatures, banding recall, exact hamming) is certified
    # transitively by in-window dedup_clusters, whose oracle replays the
    # IDENTICAL pair set through the cluster closure; the pairs entry
    # moves to the tail
    "mmr_diversify",
    "multimodal_features",
]

_TAIL = [
    # moved here late-r4 (seat taken by engine_changelog, snapshot CDC):
    # J2 left-semi stays certified in-window by engine_regex and
    # decontam_ngram; the relational twin is CI-certified here every run
    "semi_join",
    # late-r4 moves (seats taken by engine_federated / training_mix):
    # single-term BM25 is the one-slot case of every in-window AND/OR
    # entry; langid's classifier expression is embedded verbatim in
    # training_mix's oracle.  Both stay CI-certified here every run.
    "engine_bm25_single",
    "langid",
    # r5 rotation: eight rows whose semantics are embedded by in-window
    # entries ceded their seats to never-driver-certified ops (the twin
    # convention, in reverse — see the in-window comments).  All eight
    # stay oracle-certified here every CI run.
    "engine_federated",
    "termstats",
    "gigabits",
    "search_facets",
    "agg_pricing",
    "join_enrich",
    "prefix_suggest",
    "minhash_lsh",
    # moved here late-r4 (seat taken by engine_query_delete, the strictly
    # stronger tombstone claim): literal-id-list merge-on-read visibility
    # stays CI-certified here every run
    "engine_latest_wins",
    # analog twins / grouping-set demo, each certified by an in-window entry
    # (ann_cosine / multimodal_meta moved here r4: ann_cosine's oracle is
    # the embedded ann CTE of in-window hybrid_rrf + identical to
    # in-window ann_ivf's; multimodal_meta is the weaker plumbing twin of
    # in-window multimodal_features)
    "ann_cosine",
    "multimodal_meta",
    # fingerprint moved here late-r4 (seat taken by ann_quantized):
    # checksum semantics certified in-window by dedup_exact's md5 grouping
    # + the sha256 invariant pytest
    "fingerprint",
    # ngram_jaccard / embed_facets moved here r4 (seats taken by
    # dedup_clusters / prefix_suggest): ngram_jaccard's exact-jaccard
    # verify is in-window minhash_lsh's oracle; facet aggregation is
    # in-window three ways
    "ngram_jaccard",
    "embed_facets",
    # pairwise_cosine moved here r4-final (seat taken by semantic_dedup):
    # its rounded-cosine pair-membership SQL is embedded verbatim inside
    # semantic_dedup's oracle CTE
    "pairwise_cosine",
    # simhash pairs moved here r4 (seat taken by mmr_diversify): the
    # in-window dedup_clusters oracle replays the identical banded pair
    # set through the recursive closure
    "simhash",
    # set_ops moved here r4 (seat taken by decontam_ngram): EXCEPT ==
    # in-window engine_bm25_neg's anti-join, INTERSECT == in-window
    # semi_join
    "set_ops",
    # paging moved here r4 (seat taken by frontier_dole) — sort+limit is
    # in-window everywhere; offset is arithmetic over the same plan
    "paging",
    # user term weights (term^W, Query.cpp m_userWeight): weight*idf in
    # slot scoring AND block-max bounds; oracle replays the idf
    # multiplier.  Certified here every CI run.
    "engine_term_weight",
    # A8 waiting-tree counts: agg-family twin of in-window metrics_rollup
    # + window-sum; the R5 dequeue holds the frontier family's window seat
    "frontier_quota",
    # S9 fetch pipeline on the fake transport (real transport honestly
    # stubbed — no sockets in the sandbox); the dequeue feeding it is the
    # in-window frontier_dole entry
    "fetch_sim",
    # and3 moved here r4 (seat taken by engine_time_travel) — twin of
    # in-window and2 + the batch entry's 3-term members
    "engine_bm25_and3",
    "engine_bm25_or",
    "sortby_field",
    "rollup",
    "engine_bm25_exhaustive",
    "engine_gigabits",
    "bm25_single",
    "bm25_and2",
    "bm25_and3",
    "bm25_neg",
    "bm25_or",
    "phrase",
    "bigrams",
    "boolean_or",
    "topk_orders",
    "anti_join",
    "latest_wins",
    "facets",
    "total_hits",
    "token_stats",
    "quality",
    "except_op",
    # LSH ANN: same full-probe==exact oracle as in-window ann_ivf
    "ann_lsh",
    # R3 tiered mode (r4): delta segments merged without annihilation —
    # oracle identical to in-window engine_incremental; certified every
    # CI run by tests/test_registry_tail_oracles.py
    "engine_minor_merge",
    # stateful-operator twin (r4): batch semantics of the
    # applyInPandasWithState streaming sessionizer, lag+running-sum oracle
    "sessionize",
    # moved out of the window r4 (seats taken by url_filters / link_rank);
    # both stay oracle-certified every CI run via test_registry_tail_oracles
    "facet_ranges",
    "window_top2",
    # r4 deterministic-sampling ops (quota-by-stratum, Bernoulli-by-hash)
    "sample_stratified",
    "sample_hash",
    # J7 through the STORED index (in-window link_rank's engine twin):
    # WAND top-50 base -> broadcast inlink-prior blend
    "engine_link_rank",
    # moved out of the window r4 (seat taken by engine_anchor): N/avgdl
    # feed every in-window engine BM25 row's scoring math, so a wrong
    # collstats would turn all of them red; certified directly every CI
    # run by tests/test_registry_tail_oracles.py
    "collstats",
    # LinkInfo RANKING half: term-specific anchor-evidence blend over the
    # WAND base — retrieval twin of in-window engine_anchor + blend twin
    # of tail engine_link_rank; CI-certified via test_registry_tail_oracles
    "engine_anchor_boost",
    # codegen-regex PII audit/redaction with a closed-form
    # injected-identifier rule; CI-certified every run
    "pii_scrub",
    # cross-doc duplicated spans (substring-dedup accounting, 8-grams);
    # the REWRITE entry (dup_span_scrub) holds a window seat since r5
    "dup_spans",
    # moved out of the window late-r4 (seats taken by lm_perplexity /
    # quality_perceptron): tf feeds every in-window engine BM25 hash;
    # quality_full's gate expressions are embedded in training_mix's
    # oracle.  Both stay directly oracle-certified here every CI run.
    "tf",
    "quality_full",
    # moved out late-r4 (seat taken by engine_regex): keep-first-per-site
    # is the rank<=1 case of in-window site_cluster's serp window
    "serp_dedup",
    # moved out late-r4 (seat taken by percolate): F1 pushed range scans
    # ride every in-window engine entry; F7 is in-window engine_sortby
    "numeric_range",
    # moved out late-r4 (seat taken by regex_rules): the slot-count twin
    # argument that moved and3 — J1 stays in-window via the batch AND
    # member and every multi-slot entry
    "engine_bm25_and2",
    # json_flatten moved here r4-s2 (seat taken by pagerank): X11 is one
    # built-in projection, CI-certified here every run
    "json_flatten",
    # next-word continuation read straight off the stored bigram pair
    # termlists (prefix_suggest's continuation twin); CI-certified here
    "next_word_suggest",
    # PMI collocations from stored termstats only (gigabits' statistical
    # cousin — association strength, vocab-sized self-join, no corpus
    # read); CI-certified here
    "collocations",
]


def build_registry() -> tuple[
    dict[str, Callable[[SparkSession, str], DataFrame]], dict[str, str]
]:
    from .engine_entries import engine_registry

    eng_q, eng_o = engine_registry()
    queries = {
        # relational
        "agg_pricing": q_agg_pricing,
        "topk_orders": q_topk_orders,
        "join_enrich": q_join_enrich,
        "semi_join": q_semi_join,
        "anti_join": q_anti_join,
        "window_top2": q_window_top2,
        "latest_wins": q_latest_wins,
        "facets": q_facets,
        "numeric_range": q_numeric_range,
        "boolean_or": q_boolean_or,
        "paging": q_paging,
        "metrics_rollup": q_metrics_rollup,
        "json_flatten": q_json_flatten,
        "total_hits": q_total_hits,
        "set_ops": q_set_ops,
        "sortby_field": q_sortby_field,
        # search
        "tf": q_tf,
        "termstats": q_termstats,
        "collstats": q_collstats,
        "bm25_single": q_bm25_single,
        "bm25_and2": q_bm25_and2,
        "bm25_and3": q_bm25_and3,
        "bm25_neg": q_bm25_neg,
        "bm25_or": q_bm25_or,
        "bm25_lang": q_bm25_lang,
        "phrase": q_phrase,
        "gigabits": q_gigabits,
        "search_facets": q_search_facets,
        "site_cluster": q_site_cluster,
        "snippet": q_snippet,
        "serp_dedup": q_serp_dedup,
        "facet_ranges": q_facet_ranges,
        "spell_suggest": q_spell_suggest,
        "sessionize": q_sessionize,
        "bigrams": q_bigrams,
        "rollup": q_rollup,
        "except_op": q_except,
        # training-data ops
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard": q_ngram_jaccard,
        "decontam_ngram": q_decontam_ngram,
        "semantic_decontam": q_semantic_decontam,
        "frontier_dole": q_frontier_dole,
        "frontier_quota": q_frontier_quota,
        "fetch_sim": q_fetch_sim,
        "token_stats": q_token_stats,
        "token_stats_bpe": q_token_stats_bpe,
        "quality": q_quality,
        "quality_full": q_quality_full,
        "lm_perplexity": q_lm_perplexity,
        "quality_perceptron": q_quality_perceptron,
        "percolate": q_percolate,
        "regex_rules": q_regex_rules,
        "langid": q_langid,
        "fingerprint": q_fingerprint,
        "ann_cosine": q_ann_cosine,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "ann_quantized": q_ann_quantized,
        "pairwise_cosine": q_pairwise_cosine,
        "semantic_dedup": q_semantic_dedup,
        "embed_facets": q_embed_facets,
        "minhash_lsh": q_minhash_lsh,
        "simhash": q_simhash,
        "dedup_clusters": q_dedup_clusters,
        "prefix_suggest": q_prefix_suggest,
        "mmr_diversify": q_mmr_diversify,
        "multimodal_meta": q_multimodal_meta,
        "multimodal_features": q_multimodal_features,
        # r4: F9 / J7 converted from out-of-scope + deterministic sampling
        "url_filters": q_url_filters,
        "link_rank": q_link_rank,
        "sample_stratified": q_sample_stratified,
        "sample_hash": q_sample_hash,
        "training_mix": q_training_mix,
        "pack_sequences": q_pack_sequences,
        "pii_scrub": q_pii_scrub,
        "gopher_repetition": q_gopher_repetition,
        "dup_spans": q_dup_spans,
        "dup_span_scrub": q_dup_span_scrub,
        "c4_filters": q_c4_filters,
        "mix_temperature": q_mix_temperature,
        "pagerank": q_pagerank,
        "next_word_suggest": q_next_word_suggest,
        "collocations": q_collocations,
    }
    # stored-index engine entries (build_index + search/search_wand paths)
    queries.update(eng_q)
    oracles = {
        "agg_pricing": SQL_AGG_PRICING,
        "topk_orders": SQL_TOPK_ORDERS,
        "join_enrich": SQL_JOIN_ENRICH,
        "semi_join": SQL_SEMI_JOIN,
        "anti_join": SQL_ANTI_JOIN,
        "window_top2": SQL_WINDOW_TOP2,
        "latest_wins": SQL_LATEST_WINS,
        "facets": SQL_FACETS,
        "numeric_range": SQL_NUMERIC_RANGE,
        "boolean_or": SQL_BOOLEAN_OR,
        "paging": SQL_PAGING,
        "metrics_rollup": SQL_METRICS_ROLLUP,
        "json_flatten": SQL_JSON_FLATTEN,
        "total_hits": SQL_TOTAL_HITS,
        "set_ops": SQL_SET_OPS,
        "sortby_field": SQL_SORTBY_FIELD,
        "tf": SQL_TF,
        "termstats": SQL_TERMSTATS,
        "collstats": SQL_COLLSTATS,
        "bm25_single": bm25_oracle_sql(["spark"], k=10),
        "bm25_and2": bm25_oracle_sql(["spark", "join"], k=10),
        "bm25_and3": bm25_oracle_sql(["hash", "merge", "sort"], k=10),
        "bm25_neg": bm25_oracle_sql(["table"], k=10, neg_terms=["join"]),
        "bm25_or": bm25_oracle_sql(["vector", "stream"], k=10, mode="or"),
        "bm25_lang": bm25_oracle_sql(["query"], k=10, lang="en"),
        "phrase": SQL_PHRASE,
        "gigabits": SQL_GIGABITS,
        "search_facets": SQL_SEARCH_FACETS,
        "site_cluster": SQL_SITE_CLUSTER,
        "snippet": SQL_SNIPPET,
        "serp_dedup": SQL_SERP_DEDUP,
        "facet_ranges": SQL_FACET_RANGES,
        "spell_suggest": SQL_SPELL_SUGGEST,
        "sessionize": SQL_SESSIONIZE,
        "bigrams": SQL_BIGRAMS,
        "rollup": SQL_ROLLUP,
        "except_op": SQL_EXCEPT,
        "dedup_exact": SQL_DEDUP_EXACT,
        "ngram_jaccard": SQL_NGRAM_JACCARD,
        "decontam_ngram": SQL_DECONTAM_NGRAM,
        # eval broadcast + rounded-cosine membership, replayed exactly
        "semantic_decontam": SQL_SEMANTIC_DECONTAM,
        "frontier_dole": SQL_FRONTIER_DOLE,
        "frontier_quota": SQL_FRONTIER_QUOTA,
        "fetch_sim": SQL_FETCH_SIM,
        "token_stats": SQL_TOKEN_STATS,
        "token_stats_bpe": SQL_TOKEN_STATS_BPE,
        "quality": SQL_QUALITY,
        "quality_full": SQL_QUALITY_FULL,
        # LM training + scoring replayed in SQL; floats rounded to a 4dp
        # grid twelve orders above libm drift
        "lm_perplexity": SQL_LM_PERPLEXITY,
        # perceptron training replayed as 3 epoch CTE blocks, all-integer
        "quality_perceptron": SQL_QUALITY_PERCEPTRON,
        # reverse search: same compiled query relations as VALUES lists
        "percolate": _sql_percolate(),
        # multi-pattern scan: oracle is the honest full cross product
        "regex_rules": _sql_regex_rules(),
        "langid": SQL_LANGID,
        "fingerprint": SQL_FINGERPRINT,
        "ann_cosine": SQL_ANN_COSINE,
        "ann_lsh": SQL_ANN_COSINE,  # full probe == exact brute force
        "ann_ivf": SQL_ANN_COSINE,  # full probe == exact brute force
        "ann_quantized": SQL_ANN_QUANTIZED,
        "pairwise_cosine": SQL_PAIRWISE_COSINE,  # one bucket == exact all-pairs
        "semantic_dedup": SQL_SEMANTIC_DEDUP,  # same pair SQL + closure CTE
        "embed_facets": SQL_EMBED_FACETS,
        "multimodal_meta": SQL_MULTIMODAL_META,
        "multimodal_features": SQL_MULTIMODAL_FEATURES,
        "minhash_lsh": SQL_MINHASH_LSH,  # candidates -> exact-jaccard verify
        "simhash": SQL_SIMHASH,  # full md5-simhash replay, exact O(n^2) hamming
        # recursive-CTE closure over the identical simhash pair set
        "dedup_clusters": SQL_DEDUP_CLUSTERS,
        "prefix_suggest": SQL_PREFIX_SUGGEST,
        # recursive-CTE replay of the greedy MMR loop, bit-exact floats
        "mmr_diversify": SQL_MMR_DIVERSIFY,
        "url_filters": SQL_URL_FILTERS,
        "link_rank": _sql_link_rank(),
        "sample_stratified": SQL_SAMPLE_STRATIFIED,
        "sample_hash": SQL_SAMPLE_HASH,
        "training_mix": SQL_TRAINING_MIX,
        "pack_sequences": SQL_PACK_SEQUENCES,
        "pii_scrub": _sql_pii_scrub(),
        "gopher_repetition": SQL_GOPHER_REPETITION,
        "dup_spans": SQL_DUP_SPANS,
        "dup_span_scrub": SQL_DUP_SPAN_SCRUB,
        # C4 battery: full rule replay over the same synthesized pages
        "c4_filters": _sql_c4_filters(),
        # 5 integer supersteps replayed as CTE blocks, all-BIGINT
        "pagerank": _sql_pagerank(),
        # adjacent-pair df/cf recomputed from raw text
        "next_word_suggest": SQL_NEXT_WORD_SUGGEST,
        # unigram/bigram stats + PMI recomputed from raw text, 4dp grid
        "collocations": SQL_COLLOCATIONS,
        # τ=2 mix: quota math AND selection set replayed (integer
        # micro-unit weights; the one float step is correctly-rounded sqrt)
        "mix_temperature": SQL_MIX_TEMPERATURE,
    }
    oracles.update(eng_o)
    order = [k for k in _WINDOW + _TAIL if k in queries]
    assert len(_WINDOW) == 50, f"window must be exactly 50, got {len(_WINDOW)}"
    extra = set(queries) - set(order)
    assert not extra, f"registry entries missing from ORDER: {sorted(extra)}"
    # the converse too: a renamed/typo'd query key would otherwise be
    # silently dropped from the window and the first tail entry would
    # slide into the driver's 50-row gate unnoticed (the r2 failure mode)
    ghost = set(_WINDOW + _TAIL) - set(queries)
    assert not ghost, f"ORDER names without a query: {sorted(ghost)}"
    queries = {k: queries[k] for k in order}
    oracles = {k: oracles[k] for k in order if k in oracles}
    return queries, oracles
