"""Driver contract for the spark-graft builder (PySpark target).

One ``queries()`` entry per implemented operator family from SURVEY.md §2
(names carry the operator ids), each paired with a DuckDB ``oracle_sql()``
unless the op is not SQL-expressible (extraction kernel, simhash
signatures) -- those get rows-only checks.

Conventions shared by both sides so value-hashes match:
* every computed column is aliased identically in Spark and SQL
* doubles are rounded (4-6 dp) on both sides
* every result has a deterministic total order candidate (ties broken by id)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

SF0001 = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship: extraction pipeline over the documents corpus
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Extraction (the engine's core) over sf0.001 documents treated as
    single-turn transcripts, aggregated per source."""
    from crrf_det_spark.pipeline import extract_transcripts

    docs = _t(spark, SF0001, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        "text",
        F.lit("").alias("tool"),
        F.current_timestamp().alias("ts"),
        "source",
    )
    ext = extract_transcripts(docs.select("conv_id", "turn_idx", "text"))
    return (
        ext.join(docs.select("conv_id", "source"), "conv_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_segments").alias("n_segments"),
            F.sum("n_chars_out").alias("n_chars_out"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

def _q_a1_pricing_summary(spark, sf):
    # A1/A2-family projection-profile aggs re-expressed relationally:
    # grouped multi-aggregate scan (TPC-H Q1 shape)
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_O_A1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)       AS sum_qty,
       round(sum(l_extendedprice), 2)  AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6)       AS avg_qty,
       count(*)                        AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def _q_a9_revenue_by_nation(spark, sf):
    # multi-join hash-agg (TPC-H Q5 shape): customer-orders-lineitem-nation
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    n = _t(spark, sf, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
        .orderBy("n_name")
    )


_O_A9 = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


def _q_p8_number_normalize(spark, sf):
    # P8: NUMERICVALUE normalization (index.js:9-21); numbers synthesized
    # into the text so the op actually fires on this corpus
    from crrf_det_spark.search.normalize import normalize_numbers_col

    d = _t(spark, sf, "documents")
    synth = F.concat(
        F.substring("text", 1, 40),
        F.lit(" $"),
        F.col("n_chars").cast("string"),
        F.lit(" 2021 3 7.5"),
    )
    return d.select(
        "doc_id", normalize_numbers_col(synth).alias("norm_text")
    ).orderBy("doc_id")


_O_P8 = r"""
SELECT doc_id,
       array_to_string(list_transform(
         string_split(substr(text, 1, 40) || ' $' || CAST(n_chars AS VARCHAR) || ' 2021 3 7.5', ' '),
         t -> CASE
           WHEN regexp_extract(regexp_replace(t, '[,$€£]', '', 'g'),
                '^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?', 0) = ''
             THEN t
           WHEN try_cast(regexp_extract(regexp_replace(t, '[,$€£]', '', 'g'),
                '^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?', 0) AS DOUBLE)
                BETWEEN 0 AND 4.999999
            AND try_cast(regexp_extract(regexp_replace(t, '[,$€£]', '', 'g'),
                '^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?', 0) AS DOUBLE)
              = floor(try_cast(regexp_extract(regexp_replace(t, '[,$€£]', '', 'g'),
                '^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?', 0) AS DOUBLE))
             THEN t
           WHEN try_cast(regexp_extract(regexp_replace(t, '[,$€£]', '', 'g'),
                '^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?', 0) AS DOUBLE)
                BETWEEN 1900 AND 2100
            AND try_cast(regexp_extract(regexp_replace(t, '[,$€£]', '', 'g'),
                '^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?', 0) AS DOUBLE)
              = floor(try_cast(regexp_extract(regexp_replace(t, '[,$€£]', '', 'g'),
                '^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?', 0) AS DOUBLE))
             THEN t
           ELSE 'NUMERICVALUE'
         END), ' ') AS norm_text
FROM documents
ORDER BY doc_id
"""


def _q_p9_regex_search(spark, sf):
    # P9: regex predicate search over a corpus (s-pdf:22-60)
    d = _t(spark, sf, "documents")
    return (
        d.filter(F.col("text").rlike(r"hash.*join|join.*hash"))
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


_O_P9 = """
SELECT doc_id, source FROM documents
WHERE regexp_matches(text, 'hash.*join|join.*hash')
ORDER BY doc_id
"""


def _q_w4_sessionize(spark, sf):
    # W4: stateful bottom-up grouping re-expressed as sessionization:
    # gap > 30 min -> new session (lag + cumulative sum window)
    e = _t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ in the parquet; go through timestamp for epoch
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    flagged = e.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id", F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.round(F.sum("session_value"), 2).alias("total_value"),
        )
        .orderBy("user_id")
    )


_O_W4 = """
WITH flagged AS (
  SELECT user_id, event_id, value,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
), per_session AS (
  SELECT user_id, session_id, count(*) AS n_events,
         round(sum(value), 2) AS session_value
  FROM sess GROUP BY user_id, session_id
)
SELECT user_id, count(*) AS n_sessions,
       max(n_events) AS max_session_events,
       round(sum(session_value), 2) AS total_value
FROM per_session GROUP BY user_id ORDER BY user_id
"""


def _q_w7_reading_order(spark, sf):
    # W7/O4: stable reading-order indexing via row_number
    e = _t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "rn", "event_id", "event_type")
        .orderBy("user_id", "rn")
    )


_O_W7 = """
SELECT user_id, rn, event_id, event_type FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn <= 3 ORDER BY user_id, rn
"""


def _q_w1_runlength(spark, sf):
    # W1/A6: run-length grouping -- longest consecutive same-event_type run
    # per user (the reference's busy-column run-length, vectorized via
    # lag/cumsum instead of a pixel sweep)
    e = _t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type")),
        1,
    ).otherwise(0)
    runs = e.withColumn("chg", chg).withColumn(
        "run_id", F.sum("chg").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return (
        runs.groupBy("user_id", "run_id", "event_type")
        .agg(F.count("*").alias("run_len"))
        .groupBy("user_id")
        .agg(F.max("run_len").alias("max_run"), F.count("*").alias("n_runs"))
        .orderBy("user_id")
    )


_O_W1 = """
WITH chg AS (
  SELECT user_id, event_id, event_type, ts,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), runs AS (
  SELECT user_id, event_type,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS run_id
  FROM chg
), rl AS (
  SELECT user_id, run_id, event_type, count(*) AS run_len
  FROM runs GROUP BY user_id, run_id, event_type
)
SELECT user_id, max(run_len) AS max_run, count(*) AS n_runs
FROM rl GROUP BY user_id ORDER BY user_id
"""


def _q_j4_broadcast_lookup(spark, sf):
    # J4: filter-name lookup join -- tiny dim broadcast against facts
    o = _t(spark, sf, "orders")
    dim = spark.createDataFrame(
        [("O", "open"), ("F", "finished"), ("P", "pending")],
        "o_orderstatus string, status_name string",
    )
    return (
        o.join(F.broadcast(dim), "o_orderstatus")
        .groupBy("status_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("status_name")
    )


_O_J4 = """
SELECT status_name, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
JOIN (VALUES ('O','open'), ('F','finished'), ('P','pending'))
     AS dim(o_orderstatus, status_name) USING (o_orderstatus)
GROUP BY status_name ORDER BY status_name
"""


def _q_j1_interval_join(spark, sf):
    # J1: interval/containment join (word-in-cell analogue): parts binned
    # into size ranges via a theta join
    p = _t(spark, sf, "part")
    bins = spark.createDataFrame(
        [("xs", 0, 9), ("s", 10, 19), ("m", 20, 29), ("l", 30, 39), ("xl", 40, 1000)],
        "bin string, lo int, hi int",
    )
    return (
        p.join(
            F.broadcast(bins),
            (F.col("p_size") >= F.col("lo")) & (F.col("p_size") <= F.col("hi")),
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
        )
        .orderBy("bin")
    )


_O_J1 = """
SELECT bin, count(*) AS n_parts, round(avg(p_retailprice), 4) AS avg_price
FROM part
JOIN (VALUES ('xs',0,9), ('s',10,19), ('m',20,29), ('l',30,39), ('xl',40,1000))
     AS bins(bin, lo, hi) ON p_size >= lo AND p_size <= hi
GROUP BY bin ORDER BY bin
"""


def _q_j3_first_writer_wins(spark, sf):
    # J3: used_words first-writer-wins dedup as row_number() = 1
    o = _t(spark, sf, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
        .orderBy("o_custkey")
    )


_O_J3 = """
SELECT o_custkey, o_orderkey, o_orderdate FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS rn FROM orders
) WHERE rn = 1 ORDER BY o_custkey
"""


def _q_u1_distinct(spark, sf):
    # U1/U2: set dedup + ordered distinct values
    li = _t(spark, sf, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct().orderBy(
        "l_returnflag", "l_linestatus"
    )


_O_U1 = """
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
ORDER BY l_returnflag, l_linestatus
"""


def _q_o5_topk(spark, sf):
    # O5/O6: top-k by score desc with deterministic tiebreak
    o = _t(spark, sf, "orders")
    return (
        o.select("o_orderkey", F.round("o_totalprice", 2).alias("total_price"))
        .orderBy(F.desc("total_price"), "o_orderkey")
        .limit(10)
    )


_O_O5 = """
SELECT o_orderkey, round(o_totalprice, 2) AS total_price
FROM orders ORDER BY total_price DESC, o_orderkey LIMIT 10
"""


def _q_a8_score_grouping(spark, sf):
    # A8: search-hit grouping -- per page/user: summed score + collected ids
    e = _t(spark, sf, "events")
    return (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.round(F.sum("value"), 2).alias("score"),
            # joined string, not array: the driver's canonicalizer cannot
            # hash/sort list-typed result columns (CORRECTNESS_r01 a8 failure)
            F.array_join(F.sort_array(F.collect_list("event_id")), ",").alias(
                "event_ids"
            ),
        )
        .orderBy(F.desc("score"), "user_id")
    )


_O_A8 = """
SELECT user_id, round(sum(value), 2) AS score,
       array_to_string(list_sort(list(event_id)), ',') AS event_ids
FROM events WHERE event_type = 'purchase'
GROUP BY user_id ORDER BY score DESC, user_id
"""


def _q_a9_tfidf(spark, sf):
    # A9: TFIDF scoring over the documents corpus (unigrams; formula
    # documented in crrf_det_spark/search/index.py), restricted to a fixed
    # probe vocabulary for a bounded result
    d = _t(spark, sf, "documents")
    vocab = ["hash", "join", "scan", "window", "spark"]
    # Two-stage prune before the Generate (same shape as search_adhoc's
    # prefilter): a raw-substring Contains skips docs with no vocab word
    # at all, and the token ARRAY is filtered to vocab hits before
    # explode, so the Generate emits only matching tokens instead of the
    # whole token stream.  Result-identical to explode-then-filter
    # (substring match is a superset of whitespace-token match).
    prefilter = None
    for w in vocab:
        c = F.col("text").contains(w)
        prefilter = c if prefilter is None else (prefilter | c)
    toks = F.filter(
        F.split(F.col("text"), r"\s+"), lambda t: t.isin(vocab)
    )
    tf = (
        d.filter(prefilter)
        .select("doc_id", F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    n_docs = d.count()
    df_ = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    return (
        tf.join(F.broadcast(df_), "term")
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias(
                "tfidf"
            ),
        )
        .orderBy("doc_id", "term")
    )


_O_A9T = """
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
        FROM documents)
  WHERE term IN ('hash','join','scan','window','spark')
  GROUP BY doc_id, term
), dfx AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
), n AS (SELECT count(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.term, tf.tf, dfx.df,
       round(tf.tf * ln(n.n_docs / dfx.df), 6) AS tfidf
FROM tf, dfx, n WHERE tf.term = dfx.term
ORDER BY tf.doc_id, tf.term
"""


def _q_f6_ngrams(spark, sf):
    # F6: ngram generation -- bigram counts over a probe set
    from crrf_det_spark.search.normalize import ngrams_col, tokens_col

    d = _t(spark, sf, "documents")
    probe = ["hash join", "table scan", "sort merge"]
    # Prune before the Generate: a doc can only yield probe bigram
    # "x y" if both "x" and "y" occur as raw substrings (tokens may be
    # separated by any whitespace, so contains("x y") would NOT be a
    # superset — contains(x) AND contains(y) is), and the gram array is
    # filtered to probe hits pre-explode so the Generate emits only
    # matches instead of every bigram.
    prefilter = None
    for g in probe:
        a, b = g.split(" ")
        c = F.col("text").contains(a) & F.col("text").contains(b)
        prefilter = c if prefilter is None else (prefilter | c)
    grams = F.filter(
        ngrams_col(tokens_col(F.col("text")), (2,)),
        lambda gr: gr.isin(probe),
    )
    return (
        d.filter(prefilter)
        .select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("n"))
        .orderBy("gram")
    )


_O_F6 = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), grams AS (
  SELECT t[i] || ' ' || t[i+1] AS gram
  FROM toks, unnest(range(1, len(t))) AS r(i)
)
SELECT gram, count(*) AS n FROM grams
WHERE gram IN ('hash join','table scan','sort merge')
GROUP BY gram ORDER BY gram
"""


def _q_f8_json_parse(spark, sf):
    # F8: JSON ser/de -- parse events.props, aggregate the extracted field
    e = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


_O_F8 = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       max(CAST(json_extract(props, '$.k') AS INT)) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
"""


def _q_f11_block_rounding(spark, sf):
    # F11: crop coords rounded to 8px blocks (project.py:178-184) ->
    # floor(x/8)*8 bucketing
    li = _t(spark, sf, "lineitem")
    blk = (F.floor(F.col("l_extendedprice") / 8) * 8).cast("long")
    return (
        li.select(blk.alias("price_block"))
        .groupBy("price_block")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "price_block")
        .limit(20)
    )


_O_F11 = """
SELECT CAST(floor(l_extendedprice / 8) * 8 AS BIGINT) AS price_block,
       count(*) AS n
FROM lineitem GROUP BY 1 ORDER BY n DESC, price_block LIMIT 20
"""


def _q_f12_date_format(spark, sf):
    # F12: ISO timestamp formatting (data/file.py:50) -> monthly rollup
    o = _t(spark, sf, "orders")
    return (
        o.select(
            F.date_format(F.col("o_orderdate").cast("timestamp"), "yyyy-MM").alias(
                "month"
            )
        )
        .groupBy("month")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("month")
    )


_O_F12 = """
SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n_orders
FROM orders GROUP BY 1 ORDER BY month
"""


def _q_a7_median(spark, sf):
    # A7: exact median / max over grouped values (pseg.py:914-916)
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
            F.max("l_quantity").alias("max_qty"),
        )
        .orderBy("l_returnflag")
    )


_O_A7 = """
SELECT l_returnflag, median(l_quantity) AS median_qty,
       max(l_quantity) AS max_qty
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def _q_u3_anti_join(spark, sf):
    # U3: set difference (used_words anti-join) -> customers with no orders
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


_O_U3 = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
ORDER BY c_custkey
"""


def _q_a12_label_collect(spark, sf):
    # A12: label accumulation -> distinct sorted event types per user
    e = _t(spark, sf, "events")
    return (
        e.groupBy("user_id")
        .agg(
            # joined string, not array: the driver's canonicalizer cannot
            # hash/sort list-typed result columns (CORRECTNESS_r01 a12 failure)
            F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
                "event_types"
            ),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


_O_A12 = """
SELECT user_id,
       array_to_string(list_sort(list_distinct(list(event_type))), ',')
         AS event_types,
       count(*) AS n_events
FROM events GROUP BY user_id ORDER BY user_id
"""


def _q_f1_entity_unescape(spark, sf):
    # F1: HTML entity unescape (docmt.py:104) over synthesized entities
    d = _t(spark, sf, "documents")
    synth = F.concat(
        F.lit("a &amp; b &lt;tag&gt; &quot;"), F.substring("text", 1, 20)
    )
    unescaped = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(synth, "&lt;", "<"), "&gt;", ">"
            ),
            "&quot;",
            '"',
        ),
        "&amp;",
        "&",
    )
    return d.select("doc_id", unescaped.alias("unescaped")).orderBy("doc_id")


_O_F1 = """
SELECT doc_id,
       replace(replace(replace(replace(
         'a &amp; b &lt;tag&gt; &quot;' || substr(text, 1, 20),
         '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&amp;', '&') AS unescaped
FROM documents ORDER BY doc_id
"""


def _q_o6_sample(spark, sf):
    # O6: sampling for tagging (data/project.py:40-64), as a DETERMINISTIC
    # hash-bucket sample (md5(doc_id) mod 20 == 0, ~5%): reproducible
    # across engines AND across Spark task retries -- the production form
    # of the reference's random pick, and value-checkable against DuckDB
    d = _t(spark, sf, "documents")
    key = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    return (
        d.filter(key % 20 == 0).select("doc_id", "source").orderBy("doc_id")
    )


_O_O6 = """
SELECT doc_id, source FROM documents
WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      % 20 = 0
ORDER BY doc_id
"""


def _q_ingest_stats(spark, sf):
    # ingest-time derived columns (initialize_pdf analogue,
    # /root/reference/src/task/file.py:15-68): preview, thumbnail count,
    # page dimensions over a deterministic two-line text variant (so the
    # line arithmetic is non-trivial on this single-line corpus), plus
    # the whitespace token count from document_stats
    from crrf_det_spark.pipeline import ingest_transcripts

    d = _t(spark, sf, "documents")
    two_line = F.when(
        F.length("text") > 100,
        F.concat(
            F.substring("text", 1, 100), F.lit("\n"), F.expr("substring(text, 101)")
        ),
    ).otherwise(F.col("text"))
    src = d.select("doc_id", two_line.alias("text"))
    return (
        ingest_transcripts(src, stats=True)
        .select(
            "doc_id", "preview", "n_thumbs", "page_w", "page_h", "n_tokens_ws"
        )
        .orderBy("doc_id")
    )


_O_INGEST = """
WITH src AS (
  SELECT doc_id,
         CASE WHEN length(text) > 100
              THEN substr(text, 1, 100) || chr(10) || substr(text, 101)
              ELSE text END AS text
  FROM documents
), lined AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM src
)
SELECT doc_id,
       substr(text, 1, 750) AS preview,
       least(5, len(lines)) AS n_thumbs,
       list_max(list_transform(lines, x -> length(x))) AS page_w,
       len(lines) AS page_h,
       len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))
         AS n_tokens_ws
FROM lined ORDER BY doc_id
"""


def _q_tagging_batches(spark, sf):
    # the generate_tagging analogue (/root/reference/src/task/project.py:
    # 107-265): a deterministic sample of hit segments gets a global
    # entry number (scalable offsets pattern, no single-partition
    # window), a batch-directory index (batches of 16 here; 1000 in the
    # reference), an 8-block-rounded crop rectangle, and the 2/3/4-way
    # split-for-mobile block sizes.  Synthetic boxes are derived from
    # doc_id so every split branch (none/2/3/4 blocks + the tall-box
    # no-split case) is exercised; one row per split block via
    # posexplode, fully value-checked in SQL.
    from crrf_det_spark.tagging import tagging_entries

    d = _t(spark, sf, "documents")
    key = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    segs = d.filter(key % 5 == 0).select(
        F.col("doc_id").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit(0).alias("cindex"),
        F.substring("text", 1, 40).alias("snippet"),
        (F.col("doc_id") % 50).cast("int").alias("box_y0"),
        ((F.col("doc_id") * 7) % 40).cast("int").alias("box_x0"),
        ((F.col("doc_id") % 50) + 20 + (F.col("doc_id") % 3) * 200)
        .cast("int")
        .alias("box_y1"),
        (((F.col("doc_id") * 7) % 40) + 300 + (F.col("doc_id") % 4) * 700)
        .cast("int")
        .alias("box_x1"),
    )
    e = tagging_entries(segs, batch_size=16, target_scale=1.0, n_partitions=8)
    return (
        e.select(
            "entry_id",
            "batch_index",
            "conv_id",
            "snippet",
            "crop_y0",
            "crop_x0",
            "crop_y1",
            "crop_x1",
            "crop_width",
            "crop_height",
            F.posexplode("crop_sizes").alias("block_idx", "blk"),
        )
        .select(
            "entry_id",
            "batch_index",
            "conv_id",
            "snippet",
            "crop_y0",
            "crop_x0",
            "crop_y1",
            "crop_x1",
            "crop_width",
            "crop_height",
            "block_idx",
            F.col("blk")[0].alias("block_w"),
            F.col("blk")[1].alias("block_h"),
        )
        .orderBy("entry_id", "block_idx")
    )


# independent SQL recomputation of numbering, batching, crop rounding and
# the split rule (reference project.py:172-226 arithmetic verbatim)
_O_TAGGING = """
WITH s AS (
  SELECT doc_id AS conv_id, substr(text, 1, 40) AS snippet,
         doc_id % 50 AS by0, (doc_id * 7) % 40 AS bx0,
         (doc_id % 50) + 20 + (doc_id % 3) * 200 AS by1,
         ((doc_id * 7) % 40) + 300 + (doc_id % 4) * 700 AS bx1
  FROM documents
  WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
             AS BIGINT) % 5 = 0
), e AS (
  SELECT *, row_number() OVER (ORDER BY conv_id) AS entry_id FROM s
), c AS (
  SELECT entry_id, (entry_id // 16) * 16 AS batch_index, conv_id, snippet,
         CAST(floor(by0 / 8) * 8 AS INT) AS crop_y0,
         CAST(floor(bx0 / 8) * 8 AS INT) AS crop_x0,
         CAST(floor(by1 / 8 + 1) * 8 AS INT) AS crop_y1,
         CAST(floor(bx1 / 8 + 1) * 8 AS INT) AS crop_x1
  FROM e
), d2 AS (
  SELECT *, crop_x1 - crop_x0 AS crop_width, crop_y1 - crop_y0 AS crop_height
  FROM c
), sz AS (
  SELECT *, CASE
    WHEN crop_width < 2 * crop_height THEN [[crop_width, crop_height]]
    WHEN crop_width >= 2000 THEN [
      [CAST(trunc(crop_width / 4.0 / 8 + 1) AS INT) * 8, crop_height],
      [CAST(trunc(2 * (crop_width / 4.0) / 8 + 1) AS INT) * 8
         - CAST(trunc(crop_width / 4.0 / 8 - 1) AS INT) * 8, crop_height],
      [CAST(trunc(3 * (crop_width / 4.0) / 8 + 1) AS INT) * 8
         - CAST(trunc(2 * (crop_width / 4.0) / 8 - 1) AS INT) * 8, crop_height],
      [crop_width
         - CAST(trunc(3 * (crop_width / 4.0) / 8 - 1) AS INT) * 8, crop_height]]
    WHEN crop_width >= 1400 THEN [
      [CAST(trunc(crop_width / 3.0 / 8 + 1) AS INT) * 8, crop_height],
      [CAST(trunc(2 * (crop_width / 3.0) / 8 + 1) AS INT) * 8
         - CAST(trunc(crop_width / 3.0 / 8 - 1) AS INT) * 8, crop_height],
      [crop_width
         - CAST(trunc(2 * (crop_width / 3.0) / 8 - 1) AS INT) * 8, crop_height]]
    WHEN crop_width >= 800 THEN [
      [CAST(trunc(crop_width / 2.0 / 8 + 1) AS INT) * 8, crop_height],
      [crop_width
         - CAST(trunc(crop_width / 2.0 / 8 - 1) AS INT) * 8, crop_height]]
    ELSE [[crop_width, crop_height]] END AS crop_sizes
  FROM d2
), x AS (
  SELECT entry_id, batch_index, conv_id, snippet, crop_y0, crop_x0, crop_y1,
         crop_x1, crop_width, crop_height,
         generate_subscripts(crop_sizes, 1) - 1 AS block_idx,
         unnest(crop_sizes) AS blk
  FROM sz
)
SELECT entry_id, batch_index, conv_id, snippet, crop_y0, crop_x0, crop_y1,
       crop_x1, crop_width, crop_height, block_idx,
       blk[1] AS block_w, blk[2] AS block_h
FROM x ORDER BY entry_id, block_idx
"""


def _q_dedup_exact(spark, sf):
    # exact dedup via digest group (returns dup groups; empty is valid)
    from crrf_det_spark.ops import exact_duplicates

    d = _t(spark, sf, "documents")
    return exact_duplicates(d).orderBy("digest")


_O_DEDUP_EXACT = """
SELECT sha256(text) AS digest, count(*) AS n_docs,
       list_sort(list(doc_id)) AS doc_ids
FROM documents GROUP BY sha256(text) HAVING count(*) >= 2
ORDER BY digest
"""


def _q_dedup_jaccard(spark, sf):
    # unigram-set Jaccard pairs (word-soup corpus: unigrams give signal)
    from crrf_det_spark.ops.dedup import ngram_jaccard_pairs

    d = _t(spark, sf, "documents")
    return (
        ngram_jaccard_pairs(d, n=1, threshold=0.8)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


_O_DEDUP_JACCARD = """
WITH sets AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split_regex(text, '\\s+'),
                                   t -> t <> '')) AS s
  FROM documents
), posting AS (
  SELECT doc_id, len(s) AS ns, unnest(s) AS shingle FROM sets
), inter AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
         l.ns AS na, r.ns AS nb, count(*) AS n_common
  FROM posting l JOIN posting r
    ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       round(n_common / (na + nb - n_common), 6) AS jaccard
FROM inter
WHERE n_common / (na + nb - n_common) >= 0.8
ORDER BY doc_a, doc_b
"""


def _q_dedup_jaccard3(spark, sf):
    # 3-gram Jaccard: the realistic near-dup shape (sparse shingle overlap;
    # the unigram variant above is the dense-vocabulary stress case)
    from crrf_det_spark.ops.dedup import ngram_jaccard_pairs

    d = _t(spark, sf, "documents")
    return (
        ngram_jaccard_pairs(d, n=3, threshold=0.2)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


_O_DEDUP_JACCARD3 = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
                             t -> t <> '') AS t
  FROM documents
), sets AS (
  SELECT doc_id,
         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        FOR i IN range(1, len(t) - 1)]) AS s
  FROM toks WHERE len(t) >= 3
), posting AS (
  SELECT doc_id, len(s) AS ns, unnest(s) AS shingle FROM sets
), inter AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
         l.ns AS na, r.ns AS nb, count(*) AS n_common
  FROM posting l JOIN posting r
    ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       round(n_common / (na + nb - n_common), 6) AS jaccard
FROM inter
WHERE n_common / (na + nb - n_common) >= 0.2
ORDER BY doc_a, doc_b
"""


def _q_dedup_components(spark, sf):
    # connected-components resolution of a near-dup edge list (the step a
    # training pipeline runs after any pair-producing dedup op): edges =
    # exact unigram-Jaccard >= 0.8 pairs; components via alternating
    # large-star/small-star (ops/components.py); component id = min doc_id
    # of the cluster.
    from crrf_det_spark.ops import duplicate_components
    from crrf_det_spark.ops.dedup import ngram_jaccard_pairs

    d = _t(spark, sf, "documents")
    edges = ngram_jaccard_pairs(d, n=1, threshold=0.8)
    return duplicate_components(edges).orderBy("doc_id")


# shared CTE chain: the same unigram-Jaccard >= 0.8 edge set as
# _O_DEDUP_JACCARD, then connected components (component = min node id of
# the cluster).  Tractable at ANY sf (round-4 VERDICT #2 — the naive
# transitive closure's reach relation is sum-of-component-sizes^2 rows,
# which on this dense near-clique corpus exceeded any budget at sf0.1):
# * docs with IDENTICAL token sets collapse to one representative first
#   (Jaccard depends only on the set, so this is exact — same-group pairs
#   are J=1 trivially, cross-group Jaccard is computed between reps);
# * two star-contraction rounds (node -> min(self, neighbors), plain
#   GROUP BY CTEs) shrink near-cliques to almost nothing — the same
#   reduction ops/components.py runs, re-derived independently in SQL;
# * the recursive closure then runs only on the tiny residual graph.
# Every CTE feeding the recursion is MATERIALIZED so DuckDB evaluates it
# once instead of inlining it into each iteration.  The contraction
# rounds are exact component-preserving reductions for ARBITRARY graphs
# (each node links to the min of its closed neighborhood; the global min
# of a component is a fixed point, so the final label is the component
# min), and the trailing closure guarantees convergence regardless of
# how much the contractions collapsed.
_CTE_COMPONENTS = """
WITH RECURSIVE sets AS MATERIALIZED (
  SELECT doc_id,
         list_sort(list_distinct(list_filter(string_split_regex(text, '\\s+'),
                                             t -> t <> ''))) AS s
  FROM documents
), grp AS MATERIALIZED (
  SELECT min(doc_id) AS rep, count(*) AS n_mem, s FROM sets
  WHERE len(s) > 0 GROUP BY s
), posting AS (
  SELECT rep, len(s) AS ns, unnest(s) AS shingle FROM grp
), inter AS (
  SELECT l.rep AS a, r.rep AS b, l.ns AS na, r.ns AS nb,
         count(*) AS n_common
  FROM posting l JOIN posting r
    ON l.shingle = r.shingle AND l.rep < r.rep
  GROUP BY 1, 2, 3, 4
), edges AS (
  SELECT a, b FROM inter WHERE n_common / (na + nb - n_common) >= 0.8
), sym AS MATERIALIZED (
  SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges
), lbl1 AS MATERIALIZED (
  SELECT a AS n, least(a, min(b)) AS l FROM sym GROUP BY a
), sym1 AS MATERIALIZED (
  SELECT DISTINCT la.l AS a, lb.l AS b
  FROM sym s JOIN lbl1 la ON s.a = la.n JOIN lbl1 lb ON s.b = lb.n
  WHERE la.l <> lb.l
), lbl2 AS MATERIALIZED (
  SELECT a AS n, least(a, min(b)) AS l FROM sym1 GROUP BY a
), sym2 AS MATERIALIZED (
  SELECT DISTINCT la.l AS a, lb.l AS b
  FROM sym1 s JOIN lbl2 la ON s.a = la.n JOIN lbl2 lb ON s.b = lb.n
  WHERE la.l <> lb.l
), reach(n, m) AS (
  SELECT a, a FROM sym2 UNION SELECT a, b FROM sym2
  UNION
  SELECT r.n, s.b FROM reach r JOIN sym2 s ON r.m = s.a
), comp2 AS (
  SELECT n, min(m) AS c FROM reach GROUP BY n
), compn AS (
  SELECT l1.n, COALESCE(c2.c, l2.l, l1.l) AS c
  FROM lbl1 l1
  LEFT JOIN lbl2 l2 ON l1.l = l2.n
  LEFT JOIN comp2 c2 ON COALESCE(l2.l, l1.l) = c2.n
), comp AS (
  SELECT st.doc_id, cn.c AS component
  FROM sets st JOIN grp g ON st.s = g.s JOIN compn cn ON g.rep = cn.n
  UNION ALL
  SELECT st.doc_id, g.rep AS component
  FROM sets st JOIN grp g ON st.s = g.s
  WHERE g.n_mem >= 2 AND g.rep NOT IN (SELECT n FROM compn)
)
"""

_O_DEDUP_COMPONENTS = _CTE_COMPONENTS + """
SELECT doc_id, component FROM comp ORDER BY doc_id
"""


def _q_dedup_corpus(spark, sf):
    # end-to-end "input corpus -> deduplicated corpus": keep one
    # representative (the component min) per duplicate cluster, pass
    # singletons through.
    from crrf_det_spark.ops import duplicate_components, keep_representatives
    from crrf_det_spark.ops.dedup import ngram_jaccard_pairs

    d = _t(spark, sf, "documents")
    comps = duplicate_components(ngram_jaccard_pairs(d, n=1, threshold=0.8))
    return keep_representatives(d.select("doc_id"), comps).orderBy("doc_id")


_O_DEDUP_CORPUS = _CTE_COMPONENTS + """
SELECT d.doc_id
FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
WHERE c.doc_id IS NULL OR c.doc_id = c.component
ORDER BY d.doc_id
"""


# deterministic boilerplate footers appended per doc_id % 3 — BOTH sides
# construct the same repeated-footer corpus from the documents table, so
# the span-dedup pipeline is exercised on the granularity it exists for
# (distinct bodies sharing byte-identical footer paragraphs) while
# staying fully SQL-reproducible.
_SPAN_FOOTERS = [
    "standard footer alpha all rights reserved boilerplate notice",
    "standard footer beta subscribe newsletter boilerplate notice",
    "standard footer gamma cookie consent boilerplate notice",
]


def _q_dedup_spans(spark, sf):
    # span-level (paragraph-granularity) dedup — the operator doc-level
    # dedup misses: repeated boilerplate SPANS inside otherwise-distinct
    # documents.  Pipeline: paragraph split -> digest-collapse identical
    # spans (star edges, no quadratic join on hot footer groups) ->
    # exact unigram-Jaccard >= 0.8 between distinct-span reps (the
    # prefix-filtered ngram_jaccard_pairs) -> star-contraction
    # components.  Output: every duplicate span with its canonical
    # (min-uid) representative occurrence.
    #
    # Footers go to doc_id % 30 in {0,1,2} (clique size n/30, chosen when
    # the oracle's closure was clique-size-cubic; since the round-5
    # set-collapse + contraction rewrite both sides are clique-size-
    # indifferent, and the construction is kept stable).  The k=0 footer
    # is attached with a TRIPLE newline to pin newline-run collapsing:
    # both sides must split on the regex \n\n+ (a literal '\n\n' split
    # would yield a leading-'\n' span and shifted span_idx).
    from crrf_det_spark.ops.spans import dedup_spans

    d = _t(spark, sf, "documents")
    docs2 = d.select("doc_id", _span_footer_text())
    return dedup_spans(docs2, threshold=0.8).orderBy("doc_id", "span_idx")


def _span_footer_text():
    k = F.col("doc_id") % 30
    footer = F.element_at(
        F.array(*[F.lit(x) for x in _SPAN_FOOTERS]), (k + 1).cast("int")
    )
    return (
        F.when(k == 0, F.concat("text", F.lit("\n\n\n"), footer))
        .when(k < 3, F.concat("text", F.lit("\n\n"), footer))
        .otherwise(F.col("text"))
        .alias("text")
    )


# shared closure tail for span-granularity oracles: expects a `keyed`
# CTE of (uid, doc_id, span_idx, span_text); emits `comp` (uid, c) —
# exact unigram Jaccard >= 0.8 between identical-token-set
# representatives (set collapse is exact: Jaccard depends only on the
# token set, and same-set spans — including byte-identical ones — are
# J=1 trivially), then components via two star-contraction rounds +
# residual recursive closure (see _CTE_COMPONENTS for why:
# sf0.1-tractable at ANY sf).
_SPAN_SET_CLOSURE = """, sets AS MATERIALIZED (
  SELECT uid,
         list_sort(list_distinct(list_filter(string_split_regex(span_text,
                                                                '\\s+'),
                                             t -> t <> ''))) AS s
  FROM keyed WHERE trim(span_text) <> ''
), grp AS MATERIALIZED (
  SELECT min(uid) AS rep, count(*) AS n_mem, s FROM sets GROUP BY s
), posting AS (
  SELECT rep, len(s) AS ns, unnest(s) AS tok FROM grp
), inter AS (
  SELECT l.rep AS a, r.rep AS b, l.ns AS na, r.ns AS nb,
         count(*) AS n_common
  FROM posting l JOIN posting r ON l.tok = r.tok AND l.rep < r.rep
  GROUP BY 1, 2, 3, 4
), edges AS (
  SELECT a, b FROM inter WHERE n_common / (na + nb - n_common) >= 0.8
), sym AS MATERIALIZED (
  SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges
), lbl1 AS MATERIALIZED (
  SELECT a AS n, least(a, min(b)) AS l FROM sym GROUP BY a
), sym1 AS MATERIALIZED (
  SELECT DISTINCT la.l AS a, lb.l AS b
  FROM sym s JOIN lbl1 la ON s.a = la.n JOIN lbl1 lb ON s.b = lb.n
  WHERE la.l <> lb.l
), lbl2 AS MATERIALIZED (
  SELECT a AS n, least(a, min(b)) AS l FROM sym1 GROUP BY a
), sym2 AS MATERIALIZED (
  SELECT DISTINCT la.l AS a, lb.l AS b
  FROM sym1 s JOIN lbl2 la ON s.a = la.n JOIN lbl2 lb ON s.b = lb.n
  WHERE la.l <> lb.l
), reach(n, m) AS (
  SELECT a, a FROM sym2 UNION SELECT a, b FROM sym2
  UNION
  SELECT r.n, s.b FROM reach r JOIN sym2 s ON r.m = s.a
), comp2 AS (
  SELECT n, min(m) AS c FROM reach GROUP BY n
), compn AS (
  SELECT l1.n, COALESCE(c2.c, l2.l, l1.l) AS c
  FROM lbl1 l1
  LEFT JOIN lbl2 l2 ON l1.l = l2.n
  LEFT JOIN comp2 c2 ON COALESCE(l2.l, l1.l) = c2.n
), comp AS (
  SELECT st.uid, COALESCE(cn.c, g.rep) AS c
  FROM sets st JOIN grp g ON st.s = g.s
  LEFT JOIN compn cn ON g.rep = cn.n
  WHERE cn.n IS NOT NULL OR g.n_mem >= 2
)
"""

# full independent recomputation: same footer construction, paragraph
# split with ordinal span ids, packed uid = doc_id*2^20 + span_idx,
# then the shared _SPAN_SET_CLOSURE component resolution.
_CTE_SPANS = """
WITH RECURSIVE footers AS (
  SELECT * FROM (VALUES
    (0, 'standard footer alpha all rights reserved boilerplate notice'),
    (1, 'standard footer beta subscribe newsletter boilerplate notice'),
    (2, 'standard footer gamma cookie consent boilerplate notice')
  ) f(k, footer)
), docs2 AS (
  SELECT d.doc_id,
         d.text || COALESCE(CASE WHEN f.k = 0
                                 THEN repeat(chr(10), 3)
                                 ELSE repeat(chr(10), 2) END || f.footer,
                            '') AS text
  FROM documents d LEFT JOIN footers f ON d.doc_id % 30 = f.k
), spans AS (
  SELECT doc_id,
         generate_subscripts(parts, 1) - 1 AS span_idx,
         unnest(parts) AS span_text
  FROM (SELECT doc_id,
               string_split_regex(text, chr(10) || chr(10) || '+') AS parts
        FROM docs2)
), keyed AS (
  SELECT doc_id * 1048576 + span_idx AS uid, doc_id, span_idx, span_text
  FROM spans WHERE length(span_text) >= 1
)""" + _SPAN_SET_CLOSURE

_O_DEDUP_SPANS = _CTE_SPANS + """
SELECT k.doc_id, k.span_idx,
       c // 1048576 AS rep_doc_id, c % 1048576 AS rep_span_idx
FROM comp JOIN keyed k USING (uid)
ORDER BY k.doc_id, k.span_idx
"""


def _q_dedup_spans_strip(spark, sf):
    # the keep-one corpus surface of span dedup: every non-representative
    # duplicate span removed, documents reassembled in original span
    # order (fully-stripped docs come back with empty text, one row per
    # input doc).  Same footer construction as dedup_spans.
    from crrf_det_spark.ops.spans import strip_repeated_spans

    d = _t(spark, sf, "documents")
    docs2 = d.select("doc_id", _span_footer_text())
    return strip_repeated_spans(docs2, threshold=0.8).orderBy("doc_id")


_O_DEDUP_SPANS_STRIP = _CTE_SPANS + """
SELECT d.doc_id,
       COALESCE(string_agg(kept.span_text, chr(10) || chr(10)
                           ORDER BY kept.span_idx), '') AS text
FROM docs2 d
LEFT JOIN (
  SELECT k.* FROM keyed k LEFT JOIN comp c USING (uid)
  WHERE c.uid IS NULL OR c.c = k.uid
) kept ON d.doc_id = kept.doc_id
GROUP BY d.doc_id
ORDER BY d.doc_id
"""


# inline (single-newline) boilerplate blocks for the shingle-granularity
# contract: a 4-line footer variant is spliced into the MIDDLE of the
# document text, joined only by single newlines — invisible to both
# doc-level dedup and blank-line paragraph spans, the exact gap
# dedup_shingles exists for (round-4 VERDICT missing #3).  The last line
# carries ``ext <doc_id % 2>`` so each variant clique also yields
# near-duplicate (J in [0.8, 1)) shingle pairs that exercise the
# Jaccard-verify stage, not just byte-identical star edges.
_SHINGLE_FOOTERS = [
    [
        "alpha rights reserved boilerplate inline notice",
        "alpha reproduction prohibited without permission",
        "alpha trademarks acknowledged worldwide registry",
        "alpha compliance desk extension",
    ],
    [
        "beta subscribe newsletter weekly digest inline",
        "beta unsubscribe anytime account settings panel",
        "beta delivery schedule preferences registry",
        "beta support desk extension",
    ],
    [
        "gamma cookie consent tracking inline notice",
        "gamma analytics partners data sharing policy",
        "gamma preferences management center registry",
        "gamma privacy desk extension",
    ],
]


def _shingle_footer_text():
    k = F.col("doc_id") % 30
    footer = F.element_at(
        F.array(*[F.lit("\n".join(v)) for v in _SHINGLE_FOOTERS]),
        (k + 1).cast("int"),
    )
    half = F.floor(F.length("text") / F.lit(2)).cast("int")
    left = F.substring(F.col("text"), F.lit(1), half)
    right = F.substring(F.col("text"), half + F.lit(1), F.length("text"))
    block = F.concat(
        footer, F.lit(" "), (F.col("doc_id") % 2).cast("string")
    )
    return (
        F.when(k < 3, F.concat(left, F.lit("\n"), block, F.lit("\n"), right))
        .otherwise(F.col("text"))
        .alias("text")
    )


def _q_dedup_shingles(spark, sf):
    # sub-paragraph dedup: sliding 3-line shingles -> digest-collapse
    # identical shingles (star edges) -> exact unigram-Jaccard >= 0.8
    # between distinct-shingle reps (the prefix-filtered
    # ngram_jaccard_pairs) -> star-contraction components.  Catches
    # boilerplate NOT delimited by blank lines, which escapes dedup_spans
    # by construction.
    from crrf_det_spark.ops.spans import dedup_shingles

    d = _t(spark, sf, "documents")
    docs2 = d.select("doc_id", _shingle_footer_text())
    return dedup_shingles(docs2, k=3, threshold=0.8).orderBy(
        "doc_id", "span_idx"
    )


# full independent recomputation: same mid-document splice, line split +
# sliding 3-line windows with start-line span ids, packed uid, then the
# shared _SPAN_SET_CLOSURE component resolution.
_CTE_SHINGLES = """
WITH RECURSIVE footers AS (
  SELECT * FROM (VALUES
    (0, 'alpha rights reserved boilerplate inline notice' || chr(10) ||
        'alpha reproduction prohibited without permission' || chr(10) ||
        'alpha trademarks acknowledged worldwide registry' || chr(10) ||
        'alpha compliance desk extension'),
    (1, 'beta subscribe newsletter weekly digest inline' || chr(10) ||
        'beta unsubscribe anytime account settings panel' || chr(10) ||
        'beta delivery schedule preferences registry' || chr(10) ||
        'beta support desk extension'),
    (2, 'gamma cookie consent tracking inline notice' || chr(10) ||
        'gamma analytics partners data sharing policy' || chr(10) ||
        'gamma preferences management center registry' || chr(10) ||
        'gamma privacy desk extension')
  ) f(k, footer)
), docs2 AS (
  SELECT d.doc_id,
         CASE WHEN f.k IS NULL THEN d.text
              ELSE substr(d.text, 1, length(d.text) // 2) || chr(10) ||
                   f.footer || ' ' || CAST(d.doc_id % 2 AS VARCHAR) ||
                   chr(10) || substr(d.text, length(d.text) // 2 + 1)
         END AS text
  FROM documents d LEFT JOIN footers f ON d.doc_id % 30 = f.k
), doclines AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs2
), spans AS (
  SELECT doc_id, i AS span_idx,
         array_to_string(ls[i + 1 : i + 3], chr(10)) AS span_text
  FROM doclines, unnest(range(0, greatest(len(ls) - 2, 0))) AS t(i)
), keyed AS (
  SELECT doc_id * 1048576 + span_idx AS uid, doc_id, span_idx, span_text
  FROM spans
)""" + _SPAN_SET_CLOSURE

_O_DEDUP_SHINGLES = _CTE_SHINGLES + """
SELECT k.doc_id, k.span_idx,
       c // 1048576 AS rep_doc_id, c % 1048576 AS rep_span_idx
FROM comp JOIN keyed k USING (uid)
ORDER BY k.doc_id, k.span_idx
"""


def _q_dedup_shingles_strip(spark, sf):
    # the keep-one corpus surface of shingle dedup: every line covered
    # by a non-representative duplicate 3-line shingle removed, lines
    # rejoined in original order, one row per input doc.  Same spliced
    # corpus as dedup_shingles.
    from crrf_det_spark.ops.spans import strip_repeated_shingles

    d = _t(spark, sf, "documents")
    docs2 = d.select("doc_id", _shingle_footer_text())
    return strip_repeated_shingles(docs2, k=3, threshold=0.8).orderBy(
        "doc_id"
    )


_O_DEDUP_SHINGLES_STRIP = _CTE_SHINGLES + """
, nonrep AS (
  SELECT k.doc_id, k.span_idx
  FROM comp JOIN keyed k USING (uid) WHERE c <> uid
), covered AS (
  SELECT DISTINCT doc_id, span_idx + i AS line_idx
  FROM nonrep, unnest(range(0, 3)) AS t(i)
), docline AS (
  SELECT doc_id, generate_subscripts(ls, 1) - 1 AS line_idx,
         unnest(ls) AS line
  FROM doclines
), keptline AS (
  SELECT dl.doc_id, dl.line_idx, dl.line
  FROM docline dl LEFT JOIN covered c
    ON dl.doc_id = c.doc_id AND dl.line_idx = c.line_idx
  WHERE c.doc_id IS NULL
)
SELECT d.doc_id,
       COALESCE(string_agg(kl.line, chr(10) ORDER BY kl.line_idx), '')
         AS text
FROM docs2 d LEFT JOIN keptline kl ON d.doc_id = kl.doc_id
GROUP BY d.doc_id
ORDER BY d.doc_id
"""


def _q_ann_topk(spark, sf):
    # brute-force cosine top-k against a fixed deterministic query vector
    from crrf_det_spark.ops import brute_force_topk

    emb = _t(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    query = [1.0 if i % 7 == 0 else 0.1 for i in range(dim)]
    out = brute_force_topk(emb, query, k=10)
    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


_O_ANN = """
WITH q AS (
  SELECT list(CASE WHEN (i-1) % 7 = 0 THEN 1.0 ELSE 0.1 END ORDER BY i) AS v
  FROM range(1, 65) r(i)
)
SELECT vec_id, round(list_cosine_similarity(
         list_transform(embedding, x -> CAST(x AS DOUBLE)), q.v), 4) AS cosine
FROM embeddings, q
ORDER BY list_cosine_similarity(
         list_transform(embedding, x -> CAST(x AS DOUBLE)), q.v) DESC, vec_id
LIMIT 10
"""


def _q_ann_ivf(spark, sf):
    # IVF approximate top-k (k-means trained on a capped sample).  The
    # CONTRACT instance probes every centroid list, so the result equals
    # exact brute-force top-k at ANY scale factor and the exact-cosine
    # SQL oracle applies verbatim — the whole IVF path (train -> assign
    # -> probe -> rank) is still exercised and value-checked.  Production
    # uses n_probe < n_centroids for the scan-fraction win; partial-probe
    # recall is covered by TestSimilarity::test_ivf_finds_top1.
    from crrf_det_spark.ops import ivf_assign, ivf_topk, ivf_train

    emb = _t(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    query = [1.0 if i % 7 == 0 else 0.1 for i in range(dim)]
    cent = ivf_train(emb, n_centroids=8, sample_fraction=0.5)
    return ivf_topk(
        ivf_assign(emb, cent), cent, query, k=10, n_probe=8
    ).select("vec_id", F.round("cosine", 4).alias("cosine"))


def _q_ann_lsh(spark, sf):
    # hyperplane-LSH approximate top-k (ops/similarity.lsh_topk):
    # bucket = 8-bit sign pattern of seeded hyperplane projections; only
    # rows whose bucket is within 1 bit flip of the query's bucket are
    # scored.  The oracle (_oracle_ann_lsh) inlines the identical float32
    # plane constants and recomputes the per-row buckets, the query's own
    # bucket, the xor-based probe test, and the within-probe cosine top-k
    # entirely in SQL — so the pruning decision itself is value-checked,
    # not just the final ranking.
    from crrf_det_spark.ops import lsh_assign, lsh_topk

    emb = _t(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    query = [1.0 if i % 7 == 0 else 0.1 for i in range(dim)]
    out = lsh_topk(
        lsh_assign(emb, num_planes=8, seed=3), query, k=10, num_planes=8,
        probe_bits=1, seed=3,
    )
    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


def _oracle_ann_lsh(num_planes: int = 8, dim: int = 64) -> str:
    """SQL twin of _q_ann_lsh: identical float32 plane constants (shared
    seeded generator ops.hyperplanes, seed 3) inlined as list literals;
    per-row bucket AND the query's bucket both recomputed as sign
    patterns; probe set = xor distance 0 or a single bit.  Spark promotes
    planes/vectors to float64, matching SQL DOUBLE (same summation-order
    sign-boundary tail risk as dedup_embedding's oracle — documented)."""
    from crrf_det_spark.ops import hyperplanes

    planes = hyperplanes(num_planes, dim, seed=3)

    def lit(vec):
        return "[" + ",".join(repr(float(x)) for x in vec) + "]"

    row_bits = ",\n         ".join(
        f"CASE WHEN list_dot_product(e, {lit(planes[i])}) > 0 "
        f"THEN {1 << i} ELSE 0 END AS b{i}"
        for i in range(num_planes)
    )
    q_bits = " + ".join(
        f"CASE WHEN list_dot_product(v, {lit(planes[i])}) > 0 "
        f"THEN {1 << i} ELSE 0 END"
        for i in range(num_planes)
    )
    bucket_sum = " + ".join(f"b{i}" for i in range(num_planes))
    probe_xors = ", ".join(
        str(x) for x in [0] + [1 << i for i in range(num_planes)]
    )
    return f"""
WITH q AS (
  SELECT list(CASE WHEN (i-1) % 7 = 0 THEN 1.0 ELSE 0.1 END ORDER BY i) AS v
  FROM range(1, {dim + 1}) r(i)
), qb AS (
  SELECT {q_bits} AS qbucket FROM q
), ve AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), bk AS (
  SELECT vec_id, e, {row_bits}
  FROM ve
), b AS (
  SELECT vec_id, e, {bucket_sum} AS bucket FROM bk
)
SELECT b.vec_id,
       round(list_cosine_similarity(b.e, q.v), 4) AS cosine
FROM b, q, qb
WHERE xor(b.bucket, qb.qbucket) IN ({probe_xors})
ORDER BY list_cosine_similarity(b.e, q.v) DESC, b.vec_id
LIMIT 10
"""


def _q_text_tokens(spark, sf):
    # token counting: whitespace tokens + the BPE-ish subword proxy
    # (ops/textstats.token_counts).  The proxy's boundary-split count has
    # the closed form (word runs) + (non-ws non-word chars), which the
    # oracle recomputes with two regexp_extract_all counts (the char
    # class spells out Java's ASCII \\s explicitly, incl. \\x0b).
    from crrf_det_spark.ops.textstats import token_counts

    d = _t(spark, sf, "documents")
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    counts = token_counts(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens_ws"),
        counts["n_tokens_bpe"].alias("n_tokens_bpe"),
        F.length("text").alias("n_chars_txt"),
    ).orderBy("doc_id")


_O_TEXT_TOKENS = """
SELECT doc_id,
       len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS n_tokens_ws,
       len(regexp_extract_all(text, '\\w+'))
         + len(regexp_extract_all(text, '[^\\w\\t\\n\\x0b\\f\\r ]')) AS n_tokens_bpe,
       length(text) AS n_chars_txt
FROM documents ORDER BY doc_id
"""


def _q_text_fingerprint(spark, sf):
    # document fingerprint: md5 of whitespace/case-normalized text
    d = _t(spark, sf, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return d.select("doc_id", F.md5(norm).alias("fp")).orderBy("doc_id")


_O_TEXT_FP = """
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
FROM documents ORDER BY doc_id
"""


def _q_text_quality(spark, sf):
    # quality scoring ratios (length/alpha/punct), exact arithmetic both sides
    d = _t(spark, sf, "documents")
    n_chars = F.length("text")
    alpha = F.length(F.regexp_replace("text", r"[^A-Za-z]", ""))
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    return d.select(
        "doc_id",
        F.round(alpha / n_chars, 6).alias("alpha_ratio"),
        F.size(toks).alias("n_tokens_q"),
    ).orderBy("doc_id")


_O_TEXT_QUALITY = """
SELECT doc_id,
       round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
             / length(text), 6) AS alpha_ratio,
       len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS n_tokens_q
FROM documents ORDER BY doc_id
"""


def _q_text_langid(spark, sf):
    # language ID (ops/textstats.language_id): stopword-profile argmax over
    # en/de/fr/es with deterministic last-profile-wins tie-break (Spark's
    # greatest over (score, index) structs picks the larger index on equal
    # scores), 'und' when every profile scores zero.  Output is strings
    # only, so the cross-engine comparison has no float-boundary risk.
    from crrf_det_spark.ops.textstats import language_id

    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id", language_id(F.col("text")).alias("lang")
    ).orderBy("doc_id")


# mirror of ops/textstats._STOPWORDS — keep in sync (test_ops pins the
# profile contents via this oracle's green hash at two scale factors)
_O_TEXT_LANGID = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS tk
  FROM documents
), scores AS (
  SELECT doc_id,
    len(list_filter(tk, t -> t IN ('the','and','of','to','in','is','for','that','with','on')))::DOUBLE / greatest(len(tk), 1) AS s_en,
    len(list_filter(tk, t -> t IN ('der','die','und','das','ist','von','mit','den','nicht','ein')))::DOUBLE / greatest(len(tk), 1) AS s_de,
    len(list_filter(tk, t -> t IN ('le','la','et','les','des','est','pour','que','dans','une')))::DOUBLE / greatest(len(tk), 1) AS s_fr,
    len(list_filter(tk, t -> t IN ('el','la','los','las','es','por','que','una','para','con')))::DOUBLE / greatest(len(tk), 1) AS s_es
  FROM toks
)
SELECT doc_id,
       CASE WHEN greatest(s_en, s_de, s_fr, s_es) <= 0 THEN 'und'
            WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
            WHEN s_fr = greatest(s_en, s_de, s_fr) THEN 'fr'
            WHEN s_de = greatest(s_en, s_de) THEN 'de'
            ELSE 'en' END AS lang
FROM scores ORDER BY doc_id
"""


def _pii_spiked_text():
    # deterministic PII spikes so the scrub classes are exercised at ANY
    # sf (the generated corpora contain no natural emails/IPs/phones):
    # doc_id % 7 picks the class, the payload derives from doc_id so
    # both engines reconstruct it exactly.
    k = F.col("doc_id") % 7
    did = F.col("doc_id").cast("string")
    return (
        F.when(k == 0, F.concat(
            F.col("text"), F.lit(" contact agent"), did,
            F.lit("@example.com now"),
        ))
        .when(k == 1, F.concat(
            F.col("text"), F.lit(" origin host 10."),
            (F.col("doc_id") % 200).cast("string"), F.lit(".0.77 logged"),
        ))
        .when(k == 2, F.concat(
            F.col("text"), F.lit(" call +1 555-"),
            F.lpad((F.col("doc_id") % 900).cast("string"), 3, "0"),
            F.lit("-2368 today"),
        ))
        .when(k == 3, F.concat(
            F.col("text"), F.lit(" token "),
            F.substring(F.sha2(did, 256), 1, 40), F.lit(" issued"),
        ))
        .otherwise(F.col("text"))
        .alias("text")
    )


def _q_text_pii(spark, sf):
    # PII scrub pass (ops/pii.pii_stats): per-class regex counts + a
    # fully redacted text column, all pure Catalyst in one projection.
    # Patterns are RE2-compatible by design so the DuckDB oracle runs
    # the IDENTICAL pattern strings.
    from crrf_det_spark.ops.pii import pii_stats

    d = _t(spark, sf, "documents")
    docs2 = d.select("doc_id", _pii_spiked_text())
    return pii_stats(docs2).select(
        "doc_id", "n_email", "n_ipv4", "n_phone", "n_hex_secret",
        "n_pii_total", "text_redacted",
    ).orderBy("doc_id")


# same spike construction + the same four pattern strings (ops/pii.py
# PII_PATTERNS), counted with regexp_extract_all and redacted with
# global regexp_replace in PII_PATTERNS order
_O_TEXT_PII = r"""
WITH spiked AS (
  SELECT doc_id,
         CASE doc_id % 7
           WHEN 0 THEN text || ' contact agent' || CAST(doc_id AS VARCHAR)
                       || '@example.com now'
           WHEN 1 THEN text || ' origin host 10.'
                       || CAST(doc_id % 200 AS VARCHAR) || '.0.77 logged'
           WHEN 2 THEN text || ' call +1 555-'
                       || lpad(CAST(doc_id % 900 AS VARCHAR), 3, '0')
                       || '-2368 today'
           WHEN 3 THEN text || ' token '
                       || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 40)
                       || ' issued'
           ELSE text
         END AS text
  FROM documents
)
SELECT doc_id,
  len(regexp_extract_all(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
  len(regexp_extract_all(text,
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
  len(regexp_extract_all(text,
      '(?:\+\d{1,3}[- ])?\(?\d{3}\)?[- ]\d{3}[- ]\d{4}')) AS n_phone,
  len(regexp_extract_all(text, '\b[0-9a-f]{32,}\b')) AS n_hex_secret,
  len(regexp_extract_all(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
  + len(regexp_extract_all(text,
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
  + len(regexp_extract_all(text,
      '(?:\+\d{1,3}[- ])?\(?\d{3}\)?[- ]\d{3}[- ]\d{4}'))
  + len(regexp_extract_all(text, '\b[0-9a-f]{32,}\b')) AS n_pii_total,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
          '<PII:EMAIL>', 'g'),
        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<PII:IPV4>', 'g'),
      '(?:\+\d{1,3}[- ])?\(?\d{3}\)?[- ]\d{3}[- ]\d{4}',
      '<PII:PHONE>', 'g'),
    '\b[0-9a-f]{32,}\b', '<PII:HEX_SECRET>', 'g') AS text_redacted
FROM spiked ORDER BY doc_id
"""


def _q_contamination_probe(spark, sf):
    # benchmark-contamination probe (ops/pii.contamination_probe): the
    # "benchmark" is every 13th document's normalized-text digest —
    # derived from the corpus itself so both engines build the identical
    # digest set at any sf.  Broadcast digest set -> map-side semi-join.
    from crrf_det_spark.ops.curate import normalized_digest
    from crrf_det_spark.ops.pii import contamination_probe

    d = _t(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 13 == 0).select(
        normalized_digest(F.col("text")).alias("digest")
    )
    return contamination_probe(d, bench).orderBy("doc_id")


_O_CONTAMINATION = """
WITH dig AS (
  SELECT doc_id,
         sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
           AS digest
  FROM documents
), bench AS (
  SELECT DISTINCT digest FROM dig WHERE doc_id % 13 = 0
)
SELECT d.doc_id, d.digest
FROM dig d JOIN bench b USING (digest)
ORDER BY d.doc_id
"""


def _q_curate_corpus(spark, sf):
    # end-to-end curation (ops/curate.curate_corpus): annotate
    # (langid/quality/tokens), drop quality < 0.5, then whitespace-
    # insensitive exact dedup keeping the min-id doc per normalized-text
    # group — one scan + one hash agg, no Window, no join.  The oracle
    # replicates quality_score's arithmetic OPERATION-FOR-OPERATION (same
    # literals, same left-assoc order) so the pre-round double is
    # bit-identical across engines; the round(…, 6) then agrees
    # (both engines round positive half-cases up).  Same fp-boundary
    # caveat as the dedup oracles: a future corpus could in principle
    # land a score exactly on the 0.5 threshold's representation edge —
    # triage a mismatch there as expected tail risk, not regression.
    from crrf_det_spark.ops import curate_corpus

    d = _t(spark, sf, "documents")
    return curate_corpus(d, min_quality=0.5).orderBy("doc_id")


_O_CURATE_CORPUS = """
WITH toks AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS tk
  FROM documents
), langs AS (
  SELECT doc_id,
    len(list_filter(tk, t -> t IN ('the','and','of','to','in','is','for','that','with','on')))::DOUBLE / greatest(len(tk), 1) AS s_en,
    len(list_filter(tk, t -> t IN ('der','die','und','das','ist','von','mit','den','nicht','ein')))::DOUBLE / greatest(len(tk), 1) AS s_de,
    len(list_filter(tk, t -> t IN ('le','la','et','les','des','est','pour','que','dans','une')))::DOUBLE / greatest(len(tk), 1) AS s_fr,
    len(list_filter(tk, t -> t IN ('el','la','los','las','es','por','que','una','para','con')))::DOUBLE / greatest(len(tk), 1) AS s_es
  FROM toks
), feats AS (
  SELECT doc_id, text,
         len(tk) AS n_toks,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct,
         len(list_filter(tk, t -> t IN ('the','and','of','to','in','is','for','that','with','on'))) AS stop_hits
  FROM toks
), ratios AS (
  SELECT *,
         CASE WHEN n_chars > 0 THEN alpha / n_chars ELSE 0.0 END AS ar,
         CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0.0 END AS pr,
         CASE WHEN n_toks > 0 THEN (n_chars - n_toks + 1) / n_toks ELSE 0.0 END AS mw
  FROM feats
), scored AS (
  SELECT r.doc_id,
    CASE WHEN greatest(l.s_en, l.s_de, l.s_fr, l.s_es) <= 0 THEN 'und'
         WHEN l.s_es = greatest(l.s_en, l.s_de, l.s_fr, l.s_es) THEN 'es'
         WHEN l.s_fr = greatest(l.s_en, l.s_de, l.s_fr) THEN 'fr'
         WHEN l.s_de = greatest(l.s_en, l.s_de) THEN 'de'
         ELSE 'en' END AS lang,
    round(
      (CASE WHEN r.n_toks >= 10 AND r.n_toks <= 10000 THEN 0.25 ELSE 0.0 END)
      + (CASE WHEN r.ar >= 0.6 THEN 0.25 ELSE r.ar * 0.25 / 0.6 END)
      + (CASE WHEN r.pr <= 0.1 THEN 0.25
              ELSE greatest(0.0, 0.25 - (r.pr - 0.1)) END)
      + (CASE WHEN r.mw >= 3 AND r.mw <= 12 THEN 0.15 ELSE 0.0 END)
      + (CASE WHEN r.stop_hits > 0 THEN 0.10 ELSE 0.0 END), 6) AS quality,
    r.n_toks AS n_tokens_ws,
    sha256(trim(regexp_replace(lower(r.text), '\\s+', ' ', 'g'))) AS digest
  FROM ratios r JOIN langs l USING (doc_id)
)
SELECT doc_id, lang, quality, n_tokens_ws FROM (
  SELECT *, row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
  FROM scored WHERE quality >= 0.5
) WHERE rn = 1 ORDER BY doc_id
"""


def _q_curation_report(spark, sf):
    # per-language rollup over the curated corpus (ops/curate.
    # curation_report): one extra hash agg over the (small) survivor set.
    # avg(quality) is rounded to 6 dp on BOTH sides; the addends are
    # identical doubles (the curate oracle is value-green), so the only
    # cross-engine risk is summation-order associativity in avg/sum —
    # same documented fp tail-risk class as the dedup oracles.
    from crrf_det_spark.ops import curation_report

    d = _t(spark, sf, "documents")
    return curation_report(d, min_quality=0.5).orderBy("lang")


# the curate oracle (already value-green) as a derived table, re-aggregated
_O_CURATION_REPORT = f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens_ws) AS BIGINT) AS total_tokens_ws,
       round(avg(quality), 6) AS avg_quality
FROM ({_O_CURATE_CORPUS.replace(") WHERE rn = 1 ORDER BY doc_id", ") WHERE rn = 1")})
GROUP BY lang ORDER BY lang
"""


# --- rows-only checks (not SQL-expressible; driver records weaker check) ---

def _q_extraction_segments(spark, sf):
    # the extraction kernel itself through mapInPandas.  The kernel is not
    # SQL-expressible in general, but on this corpus (single-line prose
    # docs, no runs of whitespace) every doc extracts to exactly one text
    # segment whose content equals the raw text -- so the whole pass IS
    # value-checkable: segment counts, byte counts, AND per-turn text
    # equality (the north rule's invariant) against a DuckDB oracle.
    from crrf_det_spark.pipeline import extract_transcripts

    d = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        "text",
    )
    return extract_transcripts(d).select(
        "conv_id", "turn_idx", "n_segments", "n_tables", "n_chars_out",
        "extracted_text",
    )


_O_EXTRACTION_SEGMENTS = """
SELECT CAST(doc_id AS VARCHAR) AS conv_id, 0 AS turn_idx,
       1 AS n_segments, 0 AS n_tables, length(text) AS n_chars_out,
       text AS extracted_text
FROM documents ORDER BY conv_id, turn_idx
"""


def _q_extraction_html(spark, sf):
    # HTML main-content path (DOM boilerplate strip; not SQL-expressible):
    # wrap each document in deterministic HTML chrome Spark-side, extract,
    # and report per-doc segment stats
    from crrf_det_spark.pipeline import extract_transcripts

    d = _t(spark, sf, "documents")
    html = F.concat(
        F.lit(
            "<!DOCTYPE html><html><body>"
            "<nav><a href='/a'>a</a> <a href='/b'>b</a></nav>"
            "<header>site chrome</header><article><p>"
        ),
        F.col("text"),
        F.lit("</p></article><footer>footer chrome</footer></body></html>"),
    )
    src = d.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        html.alias("text"),
    )
    return extract_transcripts(src).select(
        "conv_id", "turn_idx", "n_segments", "n_chars_out"
    )


# the chrome subtrees are dropped and the single <p> becomes one text
# segment whose content equals the document text (corpus has no entities
# or runs of whitespace), so the DOM path IS value-checkable:
_O_EXTRACTION_HTML = """
SELECT CAST(doc_id AS VARCHAR) AS conv_id, 0 AS turn_idx,
       1 AS n_segments, length(text) AS n_chars_out
FROM documents ORDER BY conv_id, turn_idx
"""


def _q_dedup_simhash(spark, sf):
    # simhash near-dup pairs.  The per-token hash is DuckDB's
    # md5_number_lower (see simhash_signatures), and the 4x16-bit band
    # join is EXACT for hamming <= 3 by pigeonhole — so the whole
    # signature + pair computation is reproducible in SQL and fully
    # value-checked (bit votes, band recall, hamming verify).
    from crrf_det_spark.ops import simhash_near_pairs, simhash_signatures

    d = _t(spark, sf, "documents")
    return (
        simhash_near_pairs(simhash_signatures(d), max_hamming=3)
        .select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )


# full simhash recomputation in SQL: md5_number_lower token hashes ->
# per-bit votes -> 64-bit signature -> all-pairs hamming <= 3 (the
# all-pairs join is the ORACLE's luxury at sf0.01; the Spark side must
# find the same pairs through its banded join)
_O_DEDUP_SIMHASH = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(text, '\\s+'),
                            t -> t <> '')) AS tok
  FROM documents
), th AS (
  SELECT doc_id, md5_number_lower(tok) AS h FROM toks
), bits AS (
  SELECT doc_id, i.range AS bit,
         sum(CASE WHEN (h >> i.range) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM th CROSS JOIN range(0, 64) i
  GROUP BY 1, 2
), sig AS (
  SELECT doc_id,
         sum(CASE WHEN vote > 0 THEN (CAST(1 AS UBIGINT) << bit)
                  ELSE CAST(0 AS UBIGINT) END) AS simhash
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY doc_a, doc_b
"""


def _q_dedup_embedding(spark, sf):
    # hyperplane-LSH cosine near-dup pairs over the embeddings table.
    # The seeded plane constants are inlined into the SQL oracle (see
    # _oracle_dedup_embedding), so bucket assignment AND within-bucket
    # cosine are both value-checked.
    from crrf_det_spark.ops import embedding_near_duplicates

    # the synthetic embeddings are near-orthogonal (max pairwise cosine
    # ~0.51 at sf0.01), so a "near-dup" run uses a low threshold and few
    # planes to produce a non-trivial, deterministic candidate set
    emb = _t(spark, sf, "embeddings")
    return (
        embedding_near_duplicates(emb, threshold=0.3, num_planes=4)
        .select("doc_a", "doc_b", F.round("cosine", 4).alias("cosine"))
        .orderBy("doc_a", "doc_b")
    )


def _oracle_dedup_embedding() -> str:
    """SQL twin of _q_dedup_embedding: the identical float32 plane
    constants (crrf_det_spark.ops.hyperplanes, seed 3) inlined as list
    literals; bucket = sign pattern of the 4 projections; exact cosine
    within bucket.  Spark computes both in float64, matching SQL DOUBLE."""
    from crrf_det_spark.ops import hyperplanes

    planes = hyperplanes(4, 64, seed=3)

    def lit(vec):
        return "[" + ",".join(repr(float(x)) for x in vec) + "]"

    plane_cols = ",\n         ".join(
        f"CASE WHEN list_dot_product(e, {lit(planes[i])}) > 0 "
        f"THEN {1 << i} ELSE 0 END AS b{i}"
        for i in range(4)
    )
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), bk AS (
  SELECT vec_id, e,
         {plane_cols}
  FROM v
), b AS (
  SELECT vec_id, e, b0 + b1 + b2 + b3 AS bucket FROM bk
)
SELECT a.vec_id AS doc_a, c.vec_id AS doc_b,
       round(list_cosine_similarity(a.e, c.e), 4) AS cosine
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE list_cosine_similarity(a.e, c.e) >= 0.3
ORDER BY doc_a, doc_b
"""


# the full boolean TFIDF search is SQL-expressible on this corpus (no
# numeric tokens, so NUMERICVALUE normalization is the identity; one
# segment per doc): 1+2-gram tf over the query terms, df per term, AND of
# includes, anti-join of the exclude, idf = ln(n_docs/df)
_O_SEARCH_TFIDF = """
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS conv_id, 0 AS turn_idx,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t
  FROM documents
), grams AS (
  SELECT conv_id, turn_idx, unnest(t) AS term FROM toks
  UNION ALL
  SELECT conv_id, turn_idx, t[i] || ' ' || t[i+1] AS term
  FROM toks, unnest(range(1, len(t))) AS r(i)
), tf AS (
  SELECT conv_id, turn_idx, lower(term) AS term_l, count(*) AS tf
  FROM grams WHERE lower(term) IN ('hash', 'join')
  GROUP BY 1, 2, 3
), dfx AS (
  SELECT term_l, count(*) AS df FROM tf GROUP BY 1
), n AS (SELECT count(*) AS n_docs FROM documents),
hits AS (
  SELECT tf.conv_id, tf.turn_idx,
         sum(tf.tf * ln(n.n_docs / dfx.df)) AS raw_score
  FROM tf, dfx, n WHERE tf.term_l = dfx.term_l
  GROUP BY 1, 2 HAVING count(DISTINCT tf.term_l) = 2
), excl AS (
  SELECT DISTINCT conv_id, turn_idx FROM grams WHERE lower(term) = 'scan'
)
SELECT h.conv_id, h.turn_idx, round(h.raw_score, 6) AS score
FROM hits h LEFT JOIN excl e USING (conv_id, turn_idx)
WHERE e.conv_id IS NULL
ORDER BY score DESC, conv_id, turn_idx
"""


def _q_search_tfidf_query(spark, sf):
    # full boolean search pipeline over documents-as-segments, ad-hoc
    # shape (no prebuilt postings): the substring prefilter keeps the
    # ngram explode off non-candidate documents; value-identical to the
    # build_index+search composition (test_search_adhoc_equals_composition)
    from crrf_det_spark.search import search_adhoc

    d = _t(spark, sf, "documents")
    segs = d.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit(0).alias("cindex"),
        F.lit("text").alias("type"),
        F.col("text").alias("content"),
    )
    return search_adhoc(
        segs, "hash join -scan", force_numeric=False, n_docs=d.count(),
        lengths=(1, 2),
    ).select("conv_id", "turn_idx", F.round("score", 6).alias("score"))


def _q_mm_binarize(spark, sf):
    """P4 contract query: adaptive-KMeans image binarization
    (ops/multimodal.py kmeans_binarize, reference pseg.py:114-146) over
    deterministic 8x8 two-level PGM payloads synthesized from the
    documents table, driven through the REAL pipeline: payload bytes ->
    pure-numpy P5 decode -> full kernel -> mapInPandas stage.

    The two-level construction (ink 0..100, background 127..254, 1..31
    ink pixels of 64) pins the kernel to its closed-form decision branch
    (every distinct level is its own cluster; background strictly
    dominant), so threshold = bg-1 and ink_ratio = n_ink/64 are
    independently recomputable in SQL.  The iterative Lloyd's path is
    covered by tests/test_ops.py TestMultimodal."""
    import pandas as pd

    from crrf_det_spark.ops.multimodal import binarize_images

    d = _t(spark, sf, "documents")
    hx = F.md5(F.col("doc_id").cast("string"))
    base = d.select(
        F.col("doc_id").cast("long").alias("media_id"),
        (F.conv(F.substring(hx, 1, 6), 16, 10).cast("long") % 101)
        .cast("int").alias("ink_level"),
        (F.conv(F.substring(hx, 7, 6), 16, 10).cast("long") % 128 + 127)
        .cast("int").alias("bg_level"),
        (F.conv(F.substring(hx, 13, 6), 16, 10).cast("long") % 31 + 1)
        .cast("int").alias("n_ink"),
    )
    # explicit partition count ahead of the Python stages (repo invariant:
    # AQE will not widen a single-partition source under mapInPandas)
    base = base.repartition(spark.sparkContext.defaultParallelism)

    def synth_payload(it):
        for pdf in it:
            payloads = [
                b"P5\n8 8\n255\n"
                + bytes([int(ink)] * int(n) + [int(bg)] * (64 - int(n)))
                for ink, bg, n in zip(
                    pdf["ink_level"], pdf["bg_level"], pdf["n_ink"]
                )
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": "image",
                    "payload": payloads,
                }
            )

    media = base.mapInPandas(
        synth_payload, schema="media_id long, kind string, payload binary"
    )
    out = binarize_images(media)
    return out.select(
        "media_id",
        "threshold",
        F.round("ink_ratio", 6).alias("ink_ratio"),
        "width",
        "height",
    ).orderBy("media_id")


def _q_mm_resize(spark, sf):
    """Multimodal resize contract query: area-average thumbnailing
    (ops/multimodal.py resize_images; the reference's fixed-size
    preview/thumbnail/tagging renders, docmt -P 750/200/1200,
    /root/reference/src/task/file.py:23,32) over deterministic 8x8
    row-constant PGM payloads synthesized from the documents table,
    driven through the REAL pipeline: payload -> pure-numpy P5 decode ->
    vectorized block-mean resize -> PGM re-encode -> P5 re-decode.

    Row-constant construction (row r has level (base + r*step) % 256)
    makes every resized 4x4 pixel a closed form: output row i is the
    round-half-up mean of source rows 2i and 2i+1, independently
    recomputable in SQL; the emitted row_levels string pins all pixels,
    mean_level pins the payload-wide quantized mean."""
    import pandas as pd

    from crrf_det_spark.ops.multimodal import decode_image, resize_images

    d = _t(spark, sf, "documents")
    hx = F.md5(F.col("doc_id").cast("string"))
    base = d.select(
        F.col("doc_id").cast("long").alias("media_id"),
        (F.conv(F.substring(hx, 1, 6), 16, 10).cast("long") % 256)
        .cast("int").alias("base"),
        (F.conv(F.substring(hx, 7, 6), 16, 10).cast("long") % 32 + 1)
        .cast("int").alias("step"),
    )
    # explicit partition count ahead of the Python stages (repo invariant)
    base = base.repartition(spark.sparkContext.defaultParallelism)

    def synth_payload(it):
        for pdf in it:
            payloads = []
            for b, s in zip(pdf["base"], pdf["step"]):
                rows = [(int(b) + r * int(s)) % 256 for r in range(8)]
                payloads.append(
                    b"P5\n8 8\n255\n"
                    + bytes(v for v in rows for _ in range(8))
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": "image",
                    "payload": payloads,
                }
            )

    media = base.mapInPandas(
        synth_payload, schema="media_id long, kind string, payload binary"
    )
    resized = resize_images(media, to=(4, 4))

    def decode_rows(it):
        for pdf in it:
            levels = [
                " ".join(
                    str(int(v))
                    for v in decode_image(bytes(p))[:, 0]
                )
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "row_levels": levels,
                    "mean_level": pdf["mean_level"],
                }
            )

    out = resized.mapInPandas(
        decode_rows,
        schema=(
            "media_id long, width int, height int, row_levels string, "
            "mean_level double"
        ),
    )
    return out.select(
        "media_id", "width", "height", "row_levels",
        F.round("mean_level", 6).alias("mean_level"),
    ).orderBy("media_id")


_O_MM_RESIZE = """
WITH h AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
              AS BIGINT) % 256 AS base,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 7, 6))
              AS BIGINT) % 32 + 1 AS step
  FROM documents),
w AS (
  SELECT media_id,
         CAST(FLOOR((((base + 0*step) % 256 + (base + 1*step) % 256) / 2.0)
                    + 0.5) AS INTEGER) AS w0,
         CAST(FLOOR((((base + 2*step) % 256 + (base + 3*step) % 256) / 2.0)
                    + 0.5) AS INTEGER) AS w1,
         CAST(FLOOR((((base + 4*step) % 256 + (base + 5*step) % 256) / 2.0)
                    + 0.5) AS INTEGER) AS w2,
         CAST(FLOOR((((base + 6*step) % 256 + (base + 7*step) % 256) / 2.0)
                    + 0.5) AS INTEGER) AS w3
  FROM h)
SELECT media_id,
       4 AS width,
       4 AS height,
       CONCAT(w0, ' ', w1, ' ', w2, ' ', w3) AS row_levels,
       ROUND((w0 + w1 + w2 + w3) / 4.0, 6) AS mean_level
FROM w
ORDER BY media_id
"""


_O_MM_BINARIZE = """
WITH h AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id,
         127 + CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 7, 6))
                    AS BIGINT) % 128 AS bg_level,
         1 + CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 13, 6))
                  AS BIGINT) % 31 AS n_ink
  FROM documents)
SELECT media_id,
       CAST(bg_level - 1 AS INTEGER) AS threshold,
       ROUND(n_ink / 64.0, 6) AS ink_ratio,
       8 AS width,
       8 AS height
FROM h
ORDER BY media_id
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "a1_pricing_summary": _q_a1_pricing_summary,
        "a9_revenue_by_nation": _q_a9_revenue_by_nation,
        "a8_score_grouping": _q_a8_score_grouping,
        "a9_tfidf": _q_a9_tfidf,
        "p8_number_normalize": _q_p8_number_normalize,
        "p9_regex_search": _q_p9_regex_search,
        "w1_runlength": _q_w1_runlength,
        "w4_sessionize": _q_w4_sessionize,
        "w7_reading_order": _q_w7_reading_order,
        "j1_interval_join": _q_j1_interval_join,
        "j3_first_writer_wins": _q_j3_first_writer_wins,
        "j4_broadcast_lookup": _q_j4_broadcast_lookup,
        "u1_distinct": _q_u1_distinct,
        "u3_anti_join": _q_u3_anti_join,
        "o5_topk": _q_o5_topk,
        "o6_sample": _q_o6_sample,
        "tagging_batches": _q_tagging_batches,
        "ingest_stats": _q_ingest_stats,
        "f1_entity_unescape": _q_f1_entity_unescape,
        "f6_ngrams": _q_f6_ngrams,
        "f8_json_parse": _q_f8_json_parse,
        "f11_block_rounding": _q_f11_block_rounding,
        "f12_date_format": _q_f12_date_format,
        "a7_median": _q_a7_median,
        "a12_label_collect": _q_a12_label_collect,
        "dedup_exact": _q_dedup_exact,
        "dedup_jaccard": _q_dedup_jaccard,
        "dedup_jaccard3": _q_dedup_jaccard3,
        "dedup_components": _q_dedup_components,
        "dedup_corpus": _q_dedup_corpus,
        "dedup_spans": _q_dedup_spans,
        "dedup_spans_strip": _q_dedup_spans_strip,
        "dedup_shingles": _q_dedup_shingles,
        "dedup_shingles_strip": _q_dedup_shingles_strip,
        "ann_topk": _q_ann_topk,
        "ann_ivf": _q_ann_ivf,
        "ann_lsh": _q_ann_lsh,
        "text_tokens": _q_text_tokens,
        "text_fingerprint": _q_text_fingerprint,
        "text_quality": _q_text_quality,
        "text_langid": _q_text_langid,
        "text_pii": _q_text_pii,
        "contamination_probe": _q_contamination_probe,
        "curate_corpus": _q_curate_corpus,
        "curation_report": _q_curation_report,
        "extraction_segments": _q_extraction_segments,
        "extraction_html": _q_extraction_html,
        "dedup_simhash": _q_dedup_simhash,
        "dedup_embedding": _q_dedup_embedding,
        "search_tfidf_query": _q_search_tfidf_query,
        "mm_binarize": _q_mm_binarize,
        "mm_resize": _q_mm_resize,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "a1_pricing_summary": _O_A1,
        "a9_revenue_by_nation": _O_A9,
        "a8_score_grouping": _O_A8,
        "a9_tfidf": _O_A9T,
        "p8_number_normalize": _O_P8,
        "p9_regex_search": _O_P9,
        "w1_runlength": _O_W1,
        "w4_sessionize": _O_W4,
        "w7_reading_order": _O_W7,
        "j1_interval_join": _O_J1,
        "j3_first_writer_wins": _O_J3,
        "j4_broadcast_lookup": _O_J4,
        "u1_distinct": _O_U1,
        "u3_anti_join": _O_U3,
        "o5_topk": _O_O5,
        "o6_sample": _O_O6,
        "tagging_batches": _O_TAGGING,
        "ingest_stats": _O_INGEST,
        "f1_entity_unescape": _O_F1,
        "f6_ngrams": _O_F6,
        "f8_json_parse": _O_F8,
        "f11_block_rounding": _O_F11,
        "f12_date_format": _O_F12,
        "extraction_html": _O_EXTRACTION_HTML,
        "extraction_segments": _O_EXTRACTION_SEGMENTS,
        "search_tfidf_query": _O_SEARCH_TFIDF,
        "a7_median": _O_A7,
        "a12_label_collect": _O_A12,
        "dedup_exact": _O_DEDUP_EXACT,
        "dedup_jaccard": _O_DEDUP_JACCARD,
        "dedup_jaccard3": _O_DEDUP_JACCARD3,
        "dedup_components": _O_DEDUP_COMPONENTS,
        "dedup_corpus": _O_DEDUP_CORPUS,
        "dedup_spans": _O_DEDUP_SPANS,
        "dedup_spans_strip": _O_DEDUP_SPANS_STRIP,
        "dedup_shingles": _O_DEDUP_SHINGLES,
        "dedup_shingles_strip": _O_DEDUP_SHINGLES_STRIP,
        "ann_topk": _O_ANN,
        # ann_ivf's probe set provably covers the exact top-k on this
        # corpus, so the brute-force cosine oracle applies verbatim
        "ann_ivf": _O_ANN,
        # CAVEAT: like dedup_embedding, ann_lsh's bucket-sign parity
        # relies on numpy-matmul vs DuckDB sequential float summation
        # agreeing at the > 0 boundary; expected tail risk, not a
        # regression, if a future sf ever flips a near-zero projection.
        "ann_lsh": _oracle_ann_lsh(),
        "dedup_simhash": _O_DEDUP_SIMHASH,
        # CAVEAT: dedup_embedding relies on numpy-matmul vs DuckDB
        # sequential float summation agreeing at sign/threshold/rounding
        # boundaries; verified at sf0.001/sf0.01 (keep both in the
        # cross-scale oracle_check rotation).
        "dedup_embedding": _oracle_dedup_embedding(),
        "text_tokens": _O_TEXT_TOKENS,
        "text_fingerprint": _O_TEXT_FP,
        "text_quality": _O_TEXT_QUALITY,
        "text_langid": _O_TEXT_LANGID,
        "text_pii": _O_TEXT_PII,
        "contamination_probe": _O_CONTAMINATION,
        "curate_corpus": _O_CURATE_CORPUS,
        "curation_report": _O_CURATION_REPORT,
        "mm_binarize": _O_MM_BINARIZE,
        "mm_resize": _O_MM_RESIZE,
    }
