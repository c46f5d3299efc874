"""Driver-contract query suite: Spark DataFrame queries + DuckDB oracles.

One entry per implemented operator family from SURVEY.md §2 (ids cited
per query), plus the training-data-pipeline operators (dedup families,
ANN similarity, text analysis, multimodal plumbing) over the driver's
tables at ``/root/testdata/sf*``.

Design rules (driver compares row-count + schema + order-insensitive
value-hash):
  * every computed column is aliased identically in Spark and SQL;
  * derived doubles are ROUNDed (4 digits; money 2) on BOTH sides so
    engine-order float noise can't flip the hash;
  * timestamps leave queries as epoch seconds (floor) or formatted
    strings — never raw timestamp objects;
  * near-dup inputs are PLANTED deterministically (a mutated copy per
    doc) inside the query on both sides, so dedup operators return
    non-trivial, checkable results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

# fixed "now" for crawl-scoring queries; events span Jan 2024
CRAWL_NOW = 1706745600  # 2024-02-01T00:00:00Z


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _epoch(col):
    """Floor epoch seconds — matches duckdb floor(epoch(ts))::bigint."""
    return F.unix_timestamp(col)


# =====================================================================
# crawl-engine operators on the driver tables (frontier derived from
# events: user_id = crawlable unit, host = 'h'||user_id%20)
# =====================================================================

def q_crawl_score(spark, sf):
    """freq.py:63-133 scoring (SURVEY A1+§3.1 phase 1): rate & expected."""
    e = _t(spark, sf, "events")
    agg = e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        _epoch(F.max("ts")).alias("latest_e"),
        _epoch(F.min("ts")).alias("earliest_e"),
    )
    rate = F.col("n_events") * 3600.0 / F.greatest(
        F.col("latest_e") - F.col("earliest_e"), F.lit(3600)
    )
    idle = (F.lit(CRAWL_NOW) - F.col("latest_e")) / 3600.0
    return agg.select(
        "user_id",
        "n_events",
        F.round(rate, 4).alias("rate_tph"),
        F.round(idle, 4).alias("hours_idle"),
        F.round(rate * idle, 4).alias("expected"),
    )


_SQL_CRAWL_SCORE_BASE = f"""
  SELECT user_id,
         count(*) AS n_events,
         cast(floor(epoch(max(ts))) as bigint) AS latest_e,
         cast(floor(epoch(min(ts))) as bigint) AS earliest_e
  FROM events GROUP BY user_id
"""

O_CRAWL_SCORE = f"""
WITH a AS ({_SQL_CRAWL_SCORE_BASE}),
b AS (
  SELECT user_id, n_events,
         n_events * 3600.0 / greatest(latest_e - earliest_e, 3600) AS rate,
         ({CRAWL_NOW} - latest_e) / 3600.0 AS idle
  FROM a)
SELECT user_id, n_events, round(rate, 4) AS rate_tph,
       round(idle, 4) AS hours_idle, round(rate * idle, 4) AS expected
FROM b
"""


def q_crawl_budget_rank(spark, sf):
    """Per-host budget-ranked fetch plan (dumpall.py:106-111, O1/W3)."""
    scored = q_crawl_score(spark, sf).withColumn(
        "host", F.concat(F.lit("h"), F.pmod(F.col("user_id"), F.lit(20)).cast("string"))
    ).withColumn("budget", (2 + F.pmod(F.col("user_id"), F.lit(20)) % 4).cast("int"))
    w = W.partitionBy("host").orderBy(F.col("expected").desc(), F.col("user_id").asc())
    return (
        scored.withColumn("fetch_rank", F.row_number().over(w))
        .where(F.col("fetch_rank") <= F.col("budget"))
        .select("host", "fetch_rank", "user_id", "expected")
    )


O_CRAWL_BUDGET_RANK = f"""
WITH s AS ({O_CRAWL_SCORE}),
h AS (
  SELECT *, 'h' || cast(user_id % 20 as varchar) AS host,
         2 + (user_id % 20) % 4 AS budget
  FROM s)
SELECT host, fetch_rank, user_id, expected FROM (
  SELECT host, user_id, expected, budget,
         row_number() OVER (PARTITION BY host ORDER BY expected DESC, user_id ASC) AS fetch_rank
  FROM h) WHERE fetch_rank <= budget
"""


def q_crawl_admission(spark, sf):
    """can_follow anti-join (P5, utils.py:672-692): event users not in
    the 'seen' set (customers with custkey<150 stand in for the sets)."""
    cands = _t(spark, sf, "events").select("user_id").distinct()
    seen = (
        _t(spark, sf, "customer")
        .where(F.col("c_custkey") < 75)
        .select(F.col("c_custkey").alias("user_id"))
    )
    adm = cands.join(seen, "user_id", "left_anti")
    return adm.groupBy(F.pmod(F.col("user_id"), F.lit(10)).alias("bucket")).agg(
        F.count("*").alias("n_admitted"), F.min("user_id").alias("min_user")
    )


O_CRAWL_ADMISSION = """
WITH cands AS (SELECT DISTINCT user_id FROM events),
seen AS (SELECT c_custkey AS user_id FROM customer WHERE c_custkey < 75),
adm AS (SELECT user_id FROM cands WHERE user_id NOT IN (SELECT user_id FROM seen))
SELECT user_id % 10 AS bucket, count(*) AS n_admitted, min(user_id) AS min_user
FROM adm GROUP BY 1
"""


def q_admit_cuckoo_retract(spark, sf):
    """Seen-set retraction admission via the cuckoo tier (P5/X5; the
    north rule's 'bloom/cuckoo' deletable half). Reference shape:
    retrydeletedtweets.py un-marks misidentified rows so they get
    re-crawled — a RETRACTION from the seen-set, which a Bloom filter
    can only honor by rebuilding from all surviving keys; the cuckoo
    filter deletes the plan-bounded retraction slice in place.

    seen = event ids not divisible by 3; retract every 7th of those;
    candidates = even event ids. Admission = cuckoo prefilter (post-
    delete) + exact confirm against the survivors, so the result is
    EXACT — any approximate leak (false negative from a bad delete)
    would flip the oracle hash."""
    from .operators.admission import admit
    from .operators.cuckoo_filter import BroadcastCuckoo

    ev = _t(spark, sf, "events").select(F.col("event_id").alias("url_hash"))
    seen = ev.where(F.pmod(F.col("url_hash"), F.lit(3)) != 0).distinct()
    retract = seen.where(F.pmod(F.col("url_hash"), F.lit(7)) == 0)
    survivors = seen.where(F.pmod(F.col("url_hash"), F.lit(7)) != 0)
    cands = ev.where(F.pmod(F.col("url_hash"), F.lit(2)) == 0).distinct()
    ck = BroadcastCuckoo.build(seen, n_keys=seen.count(), n_shards=16)
    # plan-bounded retraction slice -> in-place delete, no rebuild
    import numpy as np

    ck.delete_keys(retract.toPandas()["url_hash"].to_numpy(dtype=np.int64))
    adm = admit(cands, survivors, bloom=ck)
    return adm.groupBy(F.pmod(F.col("url_hash"), F.lit(10)).alias("bucket")).agg(
        F.count("*").alias("n_admitted"),
        F.min("url_hash").alias("min_id"),
        F.max("url_hash").alias("max_id"),
    )


O_ADMIT_CUCKOO_RETRACT = """
WITH seen AS (SELECT DISTINCT event_id FROM events WHERE event_id % 3 != 0),
surv AS (SELECT event_id FROM seen WHERE event_id % 7 != 0),
cands AS (SELECT DISTINCT event_id FROM events WHERE event_id % 2 = 0),
adm AS (SELECT event_id FROM cands
        WHERE event_id NOT IN (SELECT event_id FROM surv))
SELECT event_id % 10 AS bucket, count(*) AS n_admitted,
       min(event_id) AS min_id, max(event_id) AS max_id
FROM adm GROUP BY 1
"""


def q_url_canonicalize(spark, sf):
    """S11/F9 URL canonicalization (deshorten.py) via the Arrow UDF.

    The oracle constructs the expected canonical form independently from
    the same fields; xxhash64 parity is covered by tests/test_hashing.py
    (no SQL equivalent), so the hash column stays out of this query.
    """
    from .functions.urls import canonicalize_udf

    d = _t(spark, sf, "documents")
    raw = F.concat(
        F.lit("https://WWW."),
        F.upper(F.col("source")),
        F.lit(".Example.com:443//d//"),
        F.col("doc_id").cast("string"),
        F.lit("/?utm_source=x&b=2&a=1#frag"),
    )
    return d.select(F.col("doc_id"), canonicalize_udf(raw).alias("canonical_url"))


O_URL_CANONICALIZE = """
SELECT doc_id,
       'https://' || lower(source) || '.example.com/d/' ||
       cast(doc_id as varchar) || '?a=1&b=2' AS canonical_url
FROM documents
"""


# =====================================================================
# aggregations (SURVEY §2.4)
# =====================================================================

def q_a1_crawl_bounds(spark, sf):
    """A1: per-user min/max id + ts + count (freq.py:63-74)."""
    e = _t(spark, sf, "events")
    return e.groupBy("user_id").agg(
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        _epoch(F.min("ts")).alias("min_ts_e"),
        _epoch(F.max("ts")).alias("max_ts_e"),
        F.count("*").alias("n"),
    )


O_A1 = """
SELECT user_id, min(event_id) AS min_id, max(event_id) AS max_id,
       cast(floor(epoch(min(ts))) as bigint) AS min_ts_e,
       cast(floor(epoch(max(ts))) as bigint) AS max_ts_e,
       count(*) AS n
FROM events GROUP BY user_id
"""


def q_a2_counts(spark, sf):
    """A2: tweets-per-user (count-gr-tweets.py:22-46)."""
    return _t(spark, sf, "events").groupBy("user_id", "event_type").agg(
        F.count("*").alias("n")
    )


O_A2 = "SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2"


def q_a3_distinct(spark, sf):
    """A3: distinct users/types (utils.py:246-268)."""
    e = _t(spark, sf, "events")
    return e.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
        F.countDistinct("user_id", "event_type").alias("n_pairs"),
    )


O_A3 = """
SELECT count(DISTINCT user_id) AS n_users, count(DISTINCT event_type) AS n_types,
       count(DISTINCT (user_id, event_type)) AS n_pairs FROM events
"""


def q_a5_explode_count(spark, sf):
    """A5: explode + count (hashtagexport.py mapReduce analog)."""
    d = _t(spark, sf, "documents")
    return (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(100)
    )


O_A5 = """
SELECT word, count(*) AS n FROM (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
WHERE word != '' GROUP BY word ORDER BY n DESC, word ASC LIMIT 100
"""


def q_a6_topk(spark, sf):
    """A6/O1: global top-k (dumpall.py:108-111 sort+limit)."""
    return (
        _t(spark, sf, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price"))
        .limit(10)
    )


O_A6 = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


def q_a7_interval_stats(spark, sf):
    """A7+W1: per-user inter-event interval stats (stats.py:460-546)."""
    e = _t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gaps = e.select(
        "user_id",
        (_epoch(F.col("ts")) - F.lag(_epoch(F.col("ts"))).over(w)).alias("gap"),
    ).where(F.col("gap").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.min("gap").alias("min_gap"),
        F.max("gap").alias("max_gap"),
        F.round(F.avg("gap"), 4).alias("avg_gap"),
        F.round(F.expr("percentile(gap, 0.5)"), 4).alias("median_gap"),
        F.round(F.stddev("gap"), 4).alias("sd_gap"),
        F.count("*").alias("n_gaps"),
    )


O_A7 = """
WITH g AS (
  SELECT user_id,
         cast(floor(epoch(ts)) as bigint)
           - lag(cast(floor(epoch(ts)) as bigint))
             OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS gap
  FROM events)
SELECT user_id, min(gap) AS min_gap, max(gap) AS max_gap,
       round(avg(gap), 4) AS avg_gap,
       round(cast(quantile_cont(gap, 0.5) as double), 4) AS median_gap,
       round(stddev(gap), 4) AS sd_gap, count(*) AS n_gaps
FROM g WHERE gap IS NOT NULL GROUP BY user_id
"""


def q_a8_histogram(spark, sf):
    """A8: hour-of-day / weekday histograms (stats.py:344-345)."""
    e = _t(spark, sf, "events")
    return e.groupBy(
        F.hour("ts").alias("hour"), F.dayofweek("ts").alias("dow")
    ).agg(F.count("*").alias("n"))


# duckdb dayofweek: Sunday=0; Spark dayofweek: Sunday=1
O_A8 = """
SELECT hour(ts) AS hour, cast(dayofweek(ts) + 1 as int) AS dow, count(*) AS n
FROM events GROUP BY 1, 2
"""


def q_a9_degree_stats(spark, sf):
    """A9: degree/weight stats over an edge table (stats.py:410-456)."""
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("out_degree"),
        F.round(F.sum("l_quantity"), 2).alias("out_weight"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.count("*").alias("n_edges"),
    )


O_A9 = """
SELECT l_suppkey, count(DISTINCT l_partkey) AS out_degree,
       round(sum(l_quantity), 2) AS out_weight,
       round(avg(l_extendedprice), 4) AS avg_price, count(*) AS n_edges
FROM lineitem GROUP BY l_suppkey
"""


def q_u_set_ops(spark, sf):
    """U1-U3/A10: union/intersect/except + Jaccard over buyer sets
    (usersimilarity.py:22-77, followerdistribution.py:50-58)."""
    o = _t(spark, sf, "orders")
    y96 = o.where(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    y97 = o.where(F.year("o_orderdate") == 1997).select("o_custkey").distinct()
    n_union = y96.union(y97).distinct().count()
    n_inter = y96.intersect(y97).count()
    n_exc = y96.exceptAll(y97).distinct().count()
    jac = round(n_inter / n_union, 4) if n_union else 0.0
    return spark.createDataFrame(
        [(n_union, n_inter, n_exc, jac)],
        "n_union bigint, n_intersect bigint, n_except bigint, jaccard double",
    )


O_U_SET_OPS = """
WITH y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
y97 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
SELECT
  (SELECT count(*) FROM (SELECT * FROM y96 UNION SELECT * FROM y97)) AS n_union,
  (SELECT count(*) FROM (SELECT * FROM y96 INTERSECT SELECT * FROM y97)) AS n_intersect,
  (SELECT count(*) FROM (SELECT * FROM y96 EXCEPT SELECT * FROM y97)) AS n_except,
  round((SELECT count(*) FROM (SELECT * FROM y96 INTERSECT SELECT * FROM y97)) * 1.0 /
        (SELECT count(*) FROM (SELECT * FROM y96 UNION SELECT * FROM y97)), 4) AS jaccard
"""


def q_a12_zero_fill(spark, sf):
    """A12: densify missing days with 0 (stats.py:531-537)."""
    o = _t(spark, sf, "orders")
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.to_date(F.lit("1996-01-01")),
                F.to_date(F.lit("1996-03-31")),
                F.expr("interval 1 day"),
            )
        ).alias("day")
    )
    daily = (
        o.where(
            (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
        )
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    return (
        days.join(daily, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
    )


O_A12 = """
WITH days AS (
  SELECT cast(g as date) AS day
  FROM generate_series(date '1996-01-01', date '1996-03-31', interval 1 day) t(g)),
daily AS (
  SELECT cast(o_orderdate as date) AS day, count(*) AS n FROM orders
  WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01' GROUP BY 1)
SELECT strftime(days.day, '%Y-%m-%d') AS day, coalesce(daily.n, 0) AS n
FROM days LEFT JOIN daily USING (day)
"""


def q_a13_counters(spark, sf):
    """A13: global table counters (count-dumped.py:17-60)."""
    rows = []
    for name in ("orders", "lineitem", "customer", "events", "documents"):
        rows.append((name, _t(spark, sf, name).count()))
    return spark.createDataFrame(rows, "table_name string, n bigint")


O_A13 = """
SELECT 'orders' AS table_name, count(*) AS n FROM orders
UNION ALL SELECT 'lineitem', count(*) FROM lineitem
UNION ALL SELECT 'customer', count(*) FROM customer
UNION ALL SELECT 'events', count(*) FROM events
UNION ALL SELECT 'documents', count(*) FROM documents
"""


def q_a14_daily_rollup(spark, sf):
    """A14: per-day per-type rollup (senti.py:322-392)."""
    e = _t(spark, sf, "events")
    return e.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(F.round(F.sum("value"), 4).alias("sum_value"), F.count("*").alias("n"))


O_A14 = """
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       round(sum(value), 4) AS sum_value, count(*) AS n
FROM events GROUP BY 1, 2
"""


def q_a15_lang_topk(spark, sf):
    """A15+A6/W3: top-3 sources per language by doc count (stats.py:402)."""
    d = _t(spark, sf, "documents")
    counts = d.groupBy("lang", "source").agg(F.count("*").alias("n"))
    w = W.partitionBy("lang").orderBy(F.col("n").desc(), F.col("source").asc())
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("lang", "source", "n", "rnk")
    )


O_A15 = """
SELECT lang, source, n, rnk FROM (
  SELECT lang, source, count(*) AS n,
         row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, source ASC) AS rnk
  FROM documents GROUP BY lang, source)
WHERE rnk <= 3
"""


# =====================================================================
# joins (SURVEY §2.3)
# =====================================================================

def q_j1_pair_selfjoin(spark, sf):
    """J1: self equi-join + pair group-count (exportquote.py:61-78)."""
    # hash-partition ONCE on the join key: both sides of the self-join
    # then share that single exchange (guide §2.4) instead of the SMJ
    # shuffling+sorting the full table twice
    li = (
        _t(spark, sf, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_suppkey")
        .repartition(
            spark.sparkContext.defaultParallelism, F.col("l_orderkey")
        )
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_linenumber") < F.col("b.l_linenumber")),
    )
    # pack the supplier pair into ONE long (keys are 32-bit by schema
    # contract; guide §2.3) and count via per-partition np.unique after
    # one hash exchange of the bare keys — the pair keys barely repeat,
    # so a JVM hash aggregate reduces nothing map-side (same shape as
    # j8_synchrotrap)
    packed = pairs.select(
        (F.shiftleft(F.col("a.l_suppkey"), 32) + F.col("b.l_suppkey")).alias("__p")
    )
    p = spark.sparkContext.defaultParallelism

    def count_pairs(batches):
        import numpy as np
        import pandas as pd

        chunks = [pdf["__p"].to_numpy() for pdf in batches if len(pdf)]
        if not chunks:
            return
        vals, cnts = np.unique(np.concatenate(chunks), return_counts=True)
        keep = cnts >= 2
        vals, cnts = vals[keep], cnts[keep]
        yield pd.DataFrame(
            {
                "supp_a": vals >> 32,
                "supp_b": vals & 0xFFFFFFFF,
                "n": cnts.astype("int64"),
            }
        )

    # 2x parallelism on the reduce side — see q_j8_synchrotrap
    return packed.repartition(2 * p, "__p").mapInPandas(
        count_pairs, schema="supp_a long, supp_b long, n long"
    )


O_J1 = """
SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b, count(*) AS n
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
GROUP BY 1, 2 HAVING count(*) >= 2
"""


def q_j2_antijoin_groupcount(spark, sf):
    """J2: anti-join + group-count (findgreekfollowers.py:21-29)."""
    c = _t(spark, sf, "customer")
    o = (
        _t(spark, sf, "orders")
        .where(F.year("o_orderdate") == 1996)
        .select("o_custkey")
        .distinct()
    )
    n = _t(spark, sf, "nation")
    no_orders = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    return (
        no_orders.join(F.broadcast(n), no_orders.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
    )


O_J2 = """
SELECT n_name, count(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_custkey NOT IN (
  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
GROUP BY n_name
"""


def q_j3_revenue_per_segment(spark, sf):
    """J3/J6: fact ⋈ dims with broadcast (exportfavorite.py:81-89)."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


O_J3 = """
SELECT c_mktsegment, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_j8_synchrotrap(spark, sf):
    """J8: time-bucketed self-join pair counts (findcommontweets.py:22-59):
    users co-acting (same event_type, same 600s bucket), ≥3 co-events."""
    e = _t(spark, sf, "events").select(
        "user_id",
        "event_type",
        (F.floor(_epoch(F.col("ts")) / 600)).alias("bucket"),
    )
    a, b = e.alias("a"), e.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.user_id") < F.col("b.user_id")),
    )
    # pack the (user_a, user_b) pair into ONE long (ids are 32-bit by
    # schema contract; guide §2.3 narrower shuffle keys) and count via
    # per-partition np.unique after one hash exchange of the bare keys:
    # the pair keys are ~unique (998k distinct of 1M events per bucket
    # slot), so a JVM hash aggregate reduces nothing map-side and just
    # builds two ~n^2-entry hash tables (spill-prone); a vectorized
    # sort-count of each partition's key array is exact integers and
    # allocation-flat (guide §4.2)
    packed = pairs.select(
        (F.shiftleft(F.col("a.user_id"), 32) + F.col("b.user_id")).alias("__p")
    )
    p = spark.sparkContext.defaultParallelism

    def count_pairs(batches):
        import numpy as np
        import pandas as pd

        chunks = [pdf["__p"].to_numpy() for pdf in batches if len(pdf)]
        if not chunks:
            return
        vals, cnts = np.unique(np.concatenate(chunks), return_counts=True)
        keep = cnts >= 3
        vals, cnts = vals[keep], cnts[keep]
        yield pd.DataFrame(
            {
                "user_a": vals >> 32,
                "user_b": vals & 0xFFFFFFFF,
                "n_co": cnts.astype("int64"),
            }
        )

    # 2x parallelism on the reduce side: the pair stream is ~20x the
    # input and the counting stage is Arrow-python — finer tasks overlap
    # shuffle read with compute (measured ~2 s on the 23M-row exchange;
    # still derived from the session's core count, not a constant)
    return packed.repartition(2 * p, "__p").mapInPandas(
        count_pairs, schema="user_a long, user_b long, n_co long"
    )


O_J8 = """
WITH e AS (
  SELECT user_id, event_type,
         cast(floor(floor(epoch(ts)) / 600) as bigint) AS bucket
  FROM events)
SELECT a.user_id AS user_a, b.user_id AS user_b, count(*) AS n_co
FROM e a JOIN e b
  ON a.bucket = b.bucket AND a.event_type = b.event_type
 AND a.user_id < b.user_id
GROUP BY 1, 2 HAVING count(*) >= 3
"""


# =====================================================================
# windows (SURVEY §2.5)
# =====================================================================

def q_w2_latest_per_key(spark, sf):
    """W2: latest-version-per-key (lookup_user, utils.py:299-307)."""
    e = _t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", _epoch(F.col("ts")).alias("ts_e"), "event_type")
    )


O_W2 = """
SELECT user_id, event_id, cast(floor(epoch(ts)) as bigint) AS ts_e, event_type
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) WHERE rn = 1
"""


def q_w3_topk_per_group(spark, sf):
    """W3: top-3 orders per customer (Counter.most_common analog)."""
    o = _t(spark, sf, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price"), "rnk")
    )


O_W3 = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, rnk
FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk FROM orders)
WHERE rnk <= 3
"""


def q_w5_running_max(spark, sf):
    """W5: running max per key over time (dumpall.py:63-69 newlast)."""
    o = _t(spark, sf, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.max("o_totalprice").over(w), 2).alias("running_max"),
    )


O_W5 = """
SELECT o_custkey, o_orderkey,
       round(max(o_totalprice) OVER (PARTITION BY o_custkey
         ORDER BY o_orderdate ASC, o_orderkey ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_max
FROM orders
"""


# =====================================================================
# filters / predicates / scalar functions (SURVEY §2.2, §2.8)
# =====================================================================

def q_q1_pricing_summary(spark, sf):
    """TPC-H Q1 shape — the A2/A7 multi-agg suite under filters."""
    li = _t(spark, sf, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


O_Q1 = """
SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty, round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_q6_filter_agg(spark, sf):
    """P2: pushdown-friendly range predicates (TPC-H Q6 shape)."""
    li = _t(spark, sf, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
        F.count("*").alias("n"),
    )


O_Q6 = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*) AS n
FROM lineitem
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
  AND l_discount >= 0.03 AND l_quantity < 24
"""


def q_p3_array_membership(spark, sf):
    """P3: array membership predicate ($elemMatch, stats.py:135-142)."""
    d = _t(spark, sf, "documents")
    return (
        d.where(F.array_contains(F.split(F.col("text"), " "), "spark"))
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
    )


O_P3 = """
SELECT lang, count(*) AS n FROM documents
WHERE list_contains(string_split(text, ' '), 'spark') GROUP BY lang
"""


def q_p4_regex(spark, sf):
    """P4: regex predicates (mentioneduser.py:39, findquoted.py:35-46)."""
    d = _t(spark, sf, "documents")
    return (
        d.where(F.col("text").rlike("table .* window|window .* table"))
        .groupBy("source")
        .agg(F.count("*").alias("n"))
    )


O_P4 = """
SELECT source, count(*) AS n FROM documents
WHERE regexp_matches(text, 'table .* window|window .* table') GROUP BY source
"""


def q_f_scalar_suite(spark, sf):
    """F1/F5/F7/F10/F15: scalar-function suite as pure column exprs."""
    d = _t(spark, sf, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.lower(F.col("source")).alias("src_lower"),
        F.levenshtein(F.col("lang"), F.lit("en")).alias("lang_dist"),
        F.length("text").alias("n_chars_computed"),
        F.size(toks).alias("n_tokens"),
        F.md5(F.lower(F.col("text"))).alias("fingerprint"),
    )


O_F_SCALAR = """
SELECT doc_id, lower(source) AS src_lower, levenshtein(lang, 'en') AS lang_dist,
       length(text) AS n_chars_computed,
       len(string_split(text, ' ')) AS n_tokens,
       md5(lower(text)) AS fingerprint
FROM documents
"""


def q_f10_monthly(spark, sf):
    """F10: date_trunc rollup (stats.py:302,344)."""
    o = _t(spark, sf, "orders")
    return o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("total"), F.count("*").alias("n")
    )


O_F10 = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       round(sum(o_totalprice), 2) AS total, count(*) AS n
FROM orders GROUP BY 1
"""


# =====================================================================
# second coverage wave (A10/A11, J9/J10, P6, F6/F8, S13, sessionization)
# =====================================================================

def q_a10_collect_sets(spark, sf):
    """A10: set-algebra aggregates via collect_set (stats.py:561-616)."""
    e = _t(spark, sf, "events")
    return e.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("types"),
        F.countDistinct("event_type").alias("n_types"),
    )


O_A10 = """
SELECT user_id,
       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
       count(DISTINCT event_type) AS n_types
FROM events GROUP BY user_id
"""


def q_a11_timeseries(spark, sf):
    """A11: per-key time series materialized in order
    (fill_userinfo_timeseries, stats.py:221-243)."""
    e = _t(spark, sf, "events")
    daily = e.groupBy(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").alias("n"))
    series = F.transform(
        F.sort_array(F.collect_list(F.struct(F.col("day"), F.col("n")))),
        lambda s: F.concat(s["day"], F.lit(":"), s["n"].cast("string")),
    )
    return daily.groupBy("user_id").agg(
        F.array_join(series, ",").alias("series"), F.count("*").alias("n_days")
    )


O_A11 = """
WITH daily AS (
  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, count(*) AS n
  FROM events GROUP BY 1, 2)
SELECT user_id,
       string_agg(day || ':' || cast(n as varchar), ',' ORDER BY day) AS series,
       count(*) AS n_days
FROM daily GROUP BY user_id
"""


def q_j9_part_cooccurrence(spark, sf):
    """J9: co-occurrence self-join (exportimage.py:55-92 bipartite
    projection): parts appearing in the same order, pair counts."""
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= 2)
    )


O_J9 = """
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2 HAVING count(*) >= 2
"""


def q_j10_type_similarity(spark, sf):
    """J10: membership-set similarity (userlists.py:29-43): Jaccard of
    user sets between every pair of event types."""
    e = _t(spark, sf, "events").select("event_type", "user_id").distinct()
    a, b = e.alias("a"), e.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    sizes = e.groupBy("event_type").agg(F.count("*").alias("n"))
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        common.join(sa, "type_a")
        .join(sb, "type_b")
        .select(
            "type_a",
            "type_b",
            "n_common",
            F.round(
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 4
            ).alias("jaccard"),
        )
    )


O_J10 = """
WITH e AS (SELECT DISTINCT event_type, user_id FROM events),
common AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_common
  FROM e a JOIN e b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2),
sizes AS (SELECT event_type, count(*) AS n FROM e GROUP BY 1)
SELECT type_a, type_b, n_common,
       round(n_common * 1.0 / (sa.n + sb.n - n_common), 4) AS jaccard
FROM common
JOIN sizes sa ON sa.event_type = type_a
JOIN sizes sb ON sb.event_type = type_b
"""


def q_p6_staleness(spark, sf):
    """P6: staleness predicate (lastscan/user_expiration_days,
    addfollowers.py:26-30): users whose latest event predates a cutoff."""
    e = _t(spark, sf, "events")
    latest = e.groupBy("user_id").agg(_epoch(F.max("ts")).alias("latest_e"))
    cutoff = 1705276800  # 2024-01-15T00:00:00Z
    return latest.select(
        "user_id",
        (F.col("latest_e") < cutoff).alias("is_stale"),
    ).groupBy("is_stale").agg(F.count("*").alias("n_users"))


O_P6 = """
WITH latest AS (
  SELECT user_id, cast(floor(epoch(max(ts))) as bigint) AS latest_e
  FROM events GROUP BY user_id)
SELECT latest_e < 1705276800 AS is_stale, count(*) AS n_users
FROM latest GROUP BY 1
"""


def q_f6_bigram_topk(spark, sf):
    """F6: bigrams (stats.py:730-732) + top-k."""
    d = _t(spark, sf, "documents")

    def bigram_arr(toks):
        # let-bound tokens: the transform would otherwise re-evaluate
        # split() per element (O(len^2) per doc)
        idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - 1, F.lit(1)))
        return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, 2)))

    bigrams = F.transform(F.array(F.split(F.col("text"), " ")), bigram_arr)[0]
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .where(F.col("bigram").contains(" "))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(50)
    )


O_F6 = """
WITH b AS (
  SELECT unnest(list_transform(
           range(1, greatest(len(string_split(text, ' ')) - 1, 1) + 1),
           i -> array_to_string((string_split(text, ' '))[i:i+1], ' '))) AS bigram
  FROM documents)
SELECT bigram, count(*) AS n FROM b WHERE contains(bigram, ' ')
GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 50
"""


def q_f8_urlparse(spark, sf):
    """F8: URL parse -> host/path (stats.py:781-786 urlparse)."""
    d = _t(spark, sf, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/p/"),
        F.col("doc_id").cast("string"), F.lit("?x=1"),
    )
    return d.select(
        F.col("doc_id"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
    )


O_F8 = """
SELECT doc_id,
       source || '.example.com' AS host,
       '/p/' || cast(doc_id as varchar) AS path,
       'x=1' AS query
FROM documents
"""


def q_s13_edgelist(spark, sf):
    """S13: edge-list export formatting (save_edgelist, utils.py:740-762)."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.concat_ws(
                " ", F.col("user_id").cast("string"), F.col("event_type"),
                F.col("n").cast("string"),
            ).alias("line")
        )
    )


O_S13 = """
SELECT cast(user_id as varchar) || ' ' || event_type || ' ' || cast(n as varchar) AS line
FROM (SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2)
"""


def q_w_sessionize(spark, sf):
    """Sessionization (gap > 30 min -> new session): lag + cumsum window
    — the batch twin of the stateful-streaming operator."""
    e = _t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = _epoch(F.col("ts")) - F.lag(_epoch(F.col("ts"))).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = (
        e.withColumn("new_sess", new_sess)
        .withColumn(
            "session_id",
            F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, 0)),
        )
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (_epoch(F.max("ts")) - _epoch(F.min("ts"))).alias("dur_s"),
    )
    return per_session.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.max("n_events").alias("max_events"),
        F.round(F.avg("dur_s"), 4).alias("avg_dur_s"),
    )


O_W_SESSIONIZE = """
WITH g AS (
  SELECT user_id, event_id, ts,
         cast(floor(epoch(ts)) as bigint)
           - lag(cast(floor(epoch(ts)) as bigint))
             OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS gap
  FROM events),
s AS (
  SELECT user_id, ts,
         sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g),
p AS (
  SELECT user_id, session_id, count(*) AS n_events,
         cast(floor(epoch(max(ts))) as bigint)
           - cast(floor(epoch(min(ts))) as bigint) AS dur_s
  FROM s GROUP BY 1, 2)
SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_events,
       round(avg(dur_s), 4) AS avg_dur_s
FROM p GROUP BY user_id
"""


# =====================================================================
# third coverage wave (F12/F15, J4/J6, the vectorize.py wide vector)
# =====================================================================

def q_f15_json(spark, sf):
    """F15: JSON handling (utils.py:207, vectorize.py:117-120):
    extract props.k from the events JSON string column."""
    e = _t(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return e.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.sum("k").alias("sum_k"),
        F.round(F.avg("k"), 4).alias("avg_k"),
        F.count("*").alias("n"),
    )


O_F15 = """
SELECT event_type,
       cast(sum(cast(json_extract_string(props, '$.k') as bigint)) as bigint) AS sum_k,
       round(avg(cast(json_extract_string(props, '$.k') as bigint)), 4) AS avg_k,
       count(*) AS n
FROM events GROUP BY event_type
"""


# tiny deterministic sentiment lexicon (F12's dictionary-join shape:
# senti.py:176-223 looks tokens up in a scored lexicon)
_SENTI_POS = ("fast", "small", "value", "big")
_SENTI_NEG = ("slow", "error", "filter")


def q_f12_sentiment(spark, sf):
    """F12: lexicon sentiment scoring as a broadcast dictionary join
    (senti.py analyze cascade -> per-day rollup senti.py:322-392)."""
    d = _t(spark, sf, "documents")
    toks = d.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    score = (
        F.when(F.col("tok").isin(*_SENTI_POS), 1)
        .when(F.col("tok").isin(*_SENTI_NEG), -1)
        .otherwise(0)
    )
    return toks.select("lang", score.alias("s")).groupBy("lang").agg(
        F.sum("s").alias("sentiment_sum"),
        F.sum(F.when(F.col("s") > 0, 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(F.col("s") < 0, 1).otherwise(0)).alias("n_neg"),
    )


O_F12 = f"""
WITH toks AS (
  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
scored AS (
  SELECT lang,
         CASE WHEN tok IN {repr(_SENTI_POS)} THEN 1
              WHEN tok IN {repr(_SENTI_NEG)} THEN -1 ELSE 0 END AS s
  FROM toks)
SELECT lang, cast(sum(s) as bigint) AS sentiment_sum,
       cast(sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) as bigint) AS n_pos,
       cast(sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) as bigint) AS n_neg
FROM scored GROUP BY lang
"""


def q_j4_missing_parents(spark, sf):
    """J4: reply-parent fill (pullreplied.py:43-69): order keys
    referenced by lineitems but absent from a filtered orders view ->
    the fetch plan for missing parents."""
    li = _t(spark, sf, "lineitem").select("l_orderkey").distinct()
    known = (
        _t(spark, sf, "orders")
        .where(F.col("o_totalprice") >= 50000)
        .select("o_orderkey")
    )
    missing = li.join(known, li.l_orderkey == known.o_orderkey, "left_anti")
    return missing.agg(
        F.count("*").alias("n_missing"), F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
    )


O_J4 = """
SELECT count(*) AS n_missing, min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
FROM (SELECT DISTINCT l_orderkey FROM lineitem) li
WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_totalprice >= 50000)
"""


def q_j6_decoration(spark, sf):
    """J6: decorate ids with set-membership flags (listfollowers.py:89-96,
    botnetgraph.py:81-92): one multi-way left join against flag tables."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    rich = c.where(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("rich_key"), F.lit(True).alias("is_rich")
    )
    auto = c.where(F.col("c_mktsegment") == "AUTOMOBILE").select(
        F.col("c_custkey").alias("auto_key"), F.lit(True).alias("is_auto")
    )
    return (
        o.join(F.broadcast(rich), o.o_custkey == rich.rich_key, "left")
        .join(F.broadcast(auto), o.o_custkey == auto.auto_key, "left")
        .select(
            F.coalesce("is_rich", F.lit(False)).alias("is_rich"),
            F.coalesce("is_auto", F.lit(False)).alias("is_auto"),
            "o_orderstatus",
        )
        .groupBy("is_rich", "is_auto", "o_orderstatus")
        .agg(F.count("*").alias("n"))
    )


O_J6 = """
SELECT coalesce(r.is_rich, false) AS is_rich,
       coalesce(a.is_auto, false) AS is_auto,
       o_orderstatus, count(*) AS n
FROM orders
LEFT JOIN (SELECT c_custkey, true AS is_rich FROM customer WHERE c_acctbal > 5000) r
  ON o_custkey = r.c_custkey
LEFT JOIN (SELECT c_custkey, true AS is_auto FROM customer
           WHERE c_mktsegment = 'AUTOMOBILE') a
  ON o_custkey = a.c_custkey
GROUP BY 1, 2, 3
"""


# per-row double -> decimal(18,6) rounds the same binary value to the
# same 6-dp multiple in Spark and DuckDB; sums over decimals are exact,
# so every derived statistic is order-independent.
def _value_dec():
    return F.col("value").cast("decimal(18,6)")


def _user_vector_aggs():
    """The 16 base per-user features, shared by q_user_vector and
    q_user_vector_wide (one agg list, identical semantics)."""
    return [
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        _epoch(F.min("ts")).alias("first_e"),
        _epoch(F.max("ts")).alias("last_e"),
        # avg/sd/sum over doubles derive from EXACT decimal sums so the
        # value is independent of float summation order (Spark's partition
        # merge vs DuckDB's serial fold) — the driver hashes typed values,
        # and a last-digit tie under round(..., 4) would diverge.
        F.round(
            (F.sum(_value_dec()).cast("double") / F.count("*")), 4
        ).alias("avg_value"),
        F.when(
            F.count("*") > 1,
            F.round(
                F.sqrt(
                    F.greatest(
                        (
                            F.sum(_value_dec() * _value_dec()).cast("double")
                            - F.pow(F.sum(_value_dec()).cast("double"), 2) / F.count("*")
                        )
                        / (F.count("*") - 1),
                        F.lit(0.0),
                    )
                ),
                4,
            ),
        ).alias("sd_value"),
        F.round(F.sum(_value_dec()).cast("double"), 4).alias("sum_value"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n_click"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("n_view"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_purchase"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_error"),
        F.sum(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias("n_signup"),
        F.round(
            F.count("*")
            * 3600.0
            / F.greatest(_epoch(F.max("ts")) - _epoch(F.min("ts")), F.lit(3600)),
            4,
        ).alias("events_per_hour"),
        F.sum(F.when(F.hour("ts") < 12, 1).otherwise(0)).alias("n_am"),
        F.countDistinct(F.date_format("ts", "yyyy-MM-dd")).alias("n_active_days"),
    ]


def q_user_vector(spark, sf):
    """The vectorize.py path (§3.3): one wide per-user feature vector —
    activity counts, tempo stats, type mix, value stats — in a single
    groupBy (the reference does this per user in Python loops)."""
    e = _t(spark, sf, "events")
    return e.groupBy("user_id").agg(*_user_vector_aggs())


_SQL_UV_BASE = """
       count(*) AS n_events,
       count(DISTINCT event_type) AS n_types,
       cast(floor(epoch(min(ts))) as bigint) AS first_e,
       cast(floor(epoch(max(ts))) as bigint) AS last_e,
       round(cast(sum(cast(value as decimal(18,6))) as double) / count(*), 4) AS avg_value,
       CASE WHEN count(*) > 1 THEN
         round(sqrt(greatest(
           (cast(sum(cast(value as decimal(18,6)) * cast(value as decimal(18,6))) as double)
            - pow(cast(sum(cast(value as decimal(18,6))) as double), 2) / count(*))
           / (count(*) - 1), 0.0)), 4)
       END AS sd_value,
       round(cast(sum(cast(value as decimal(18,6))) as double), 4) AS sum_value,
       cast(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) as bigint) AS n_click,
       cast(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) as bigint) AS n_view,
       cast(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) as bigint) AS n_purchase,
       cast(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) as bigint) AS n_error,
       cast(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) as bigint) AS n_signup,
       round(count(*) * 3600.0 / greatest(
         cast(floor(epoch(max(ts))) as bigint) - cast(floor(epoch(min(ts))) as bigint),
         3600), 4) AS events_per_hour,
       cast(sum(CASE WHEN hour(ts) < 12 THEN 1 ELSE 0 END) as bigint) AS n_am,
       count(DISTINCT strftime(ts, '%Y-%m-%d')) AS n_active_days"""

O_USER_VECTOR = f"""
SELECT user_id,{_SQL_UV_BASE}
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------
# user_vector_wide: base 16 features + the reference's last-month
# day×hour usage grid + a per-user sentiment rollup (>= 40 features)
# ---------------------------------------------------------------------

UV_GRID_DAYS = 31
UV_SENTI_DOC_MOD = 500
UV_TGT_MOD = 149  # interaction-target id space (1..149)
UV_GAP_BUCKETS = 12
# (family, gating event_type, deterministic target multiplier) — the
# mention/quote/retweet/reply interaction families of stats.py:403-459
UV_FAMILIES = (
    ("mention", "click", 7),
    ("quote", "view", 11),
    ("retweet", "purchase", 13),
    ("reply", "error", 17),
)


def _uv_fam_dst(mult: int):
    return 1 + F.pmod(F.col("event_id") * mult, F.lit(UV_TGT_MOD))


def q_user_vector_wide(spark, sf):
    """vectorize.py's wide feature family extended toward the reference's
    ~2000-column vector — 371 features per user (372 output columns):

      * 16 base features (activity/tempo/type/value);
      * last-month day×hour usage grid (stats.py:203-218
        fill_lastmonth_usage): 24 hourly + 31 daily counts;
      * full-history hour-of-day (24) and day-of-week (7+1) counters
        (stats.py usage_times_stats hcnt/dcnt), the full hour×day-of-week
        usage heatmap (168 cells, stats.py fill_usage), and
        month-of-year (12) + day-of-month (31) seasonality counters;
      * inter-event gap log2-histogram (12 buckets) + avg/max gap
        (stats.py time_between_any interval quanta);
      * the 4 interaction families mention/quote/retweet/reply
        (stats.py:403-459): out/in degree + weight, avg weights,
        out/in ratio, pcnt-of-activity, and the top-3 counter-parties
        as a 'dst:count' string (most_mentioned_users et al.,
        .most_common(500) analog) — 9 × 4 features;
      * doc-grain rollups (stats.py:791-810 tag counters +
        most_used_sources): total/avg tags, distinct sources, distinct
        docs, and the 4-feature sentiment rollup.

    Plan shape: ONE shuffle on user_id carries the base agg, both
    usage grids, the gap windows and the out-side interaction stats;
    the in-side and top-k family stats aggregate over the tiny target
    id space (<= {UV_TGT_MOD} rows/family) and ride broadcast joins;
    the doc-grain rollup joins a broadcast 500-row doc dim. No Python
    stage anywhere."""
    from .coverage_queries import _lexicon_spark

    e = _t(spark, sf, "events")
    wu = W.partitionBy("user_id")
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    te = _epoch(F.col("ts"))
    ev = (
        e.withColumn(
            "lastday_e", _epoch(F.date_trunc("day", F.max("ts").over(wu)))
        )
        .withColumn("monthstart_e", F.col("lastday_e") - F.lit(30 * 86400))
        .withColumn("te", te)
        .withColumn(
            "in_win",
            (F.col("te") > F.col("monthstart_e"))
            & (F.col("te") <= F.col("lastday_e")),
        )
        .withColumn(
            "hrs", F.floor((F.col("te") - F.col("monthstart_e")) / F.lit(3600))
        )
        .withColumn("gap", F.col("te") - F.lag("te").over(wo))
    )
    grid = []
    for h in range(24):
        grid.append(
            F.sum(
                F.when(F.col("in_win") & (F.pmod(F.col("hrs"), F.lit(24)) == h), 1)
                .otherwise(0)
            ).alias(f"h{h:02d}")
        )
    for d in range(UV_GRID_DAYS):
        grid.append(
            F.sum(
                F.when(F.col("in_win") & (F.floor(F.col("hrs") / F.lit(24)) == d), 1)
                .otherwise(0)
            ).alias(f"d{d:02d}")
        )
    # full-history hour-of-day + day-of-week counters (usage_times_stats)
    for h in range(24):
        grid.append(
            F.sum(F.when(F.hour("ts") == h, 1).otherwise(0)).alias(f"ha{h:02d}")
        )
    for i in range(1, 8):  # Spark dayofweek: 1=Sunday .. 7=Saturday
        grid.append(
            F.sum(F.when(F.dayofweek("ts") == i, 1).otherwise(0)).alias(f"dw{i}")
        )
    # full hour×day-of-week interaction grid (the reference's usage
    # heatmap, stats.py fill_usage heat cells) — 168 counters
    for i in range(1, 8):
        for h in range(24):
            grid.append(
                F.sum(
                    F.when(
                        (F.dayofweek("ts") == i) & (F.hour("ts") == h), 1
                    ).otherwise(0)
                ).alias(f"hd{i}_{h:02d}")
            )
    # month-of-year + day-of-month counters (seasonality families)
    for m in range(1, 13):
        grid.append(
            F.sum(F.when(F.month("ts") == m, 1).otherwise(0)).alias(f"mo{m:02d}")
        )
    for dm in range(1, 32):
        grid.append(
            F.sum(
                F.when(F.dayofmonth("ts") == dm, 1).otherwise(0)
            ).alias(f"dom{dm:02d}")
        )
    # inter-event gap log2 histogram + avg/max (time_between_any quanta)
    gap_bucket = F.least(
        F.floor(F.log2(F.col("gap") + 1)), F.lit(UV_GAP_BUCKETS - 1)
    )
    for g in range(UV_GAP_BUCKETS):
        grid.append(
            F.sum(
                F.when(F.col("gap").isNotNull() & (gap_bucket == g), 1).otherwise(0)
            ).alias(f"g{g:02d}")
        )
    grid.append(
        F.round(
            F.coalesce(F.sum("gap"), F.lit(0))
            / F.greatest(F.count("gap"), F.lit(1)),
            4,
        ).alias("avg_gap")
    )
    grid.append(F.coalesce(F.max("gap"), F.lit(0)).alias("max_gap"))
    # out-side interaction families (deterministic targets)
    for fam, etype, mult in UV_FAMILIES:
        cond = F.col("event_type") == etype
        dst = _uv_fam_dst(mult)
        grid.append(
            F.countDistinct(F.when(cond, dst)).alias(f"{fam}_outdeg")
        )
        grid.append(F.sum(F.when(cond, 1).otherwise(0)).alias(f"{fam}_outw"))
    vec = ev.groupBy("user_id").agg(*_user_vector_aggs(), *grid)

    # family pairs in ONE events pass (each event belongs to exactly one
    # family via its type — no 4-way union re-scan); the (user, fam,
    # dst) count shuffle is then reused by BOTH the top-k ranking and
    # the in-side degree/weight stats
    fam_col, dst_col = None, None
    for fam, etype, mult in UV_FAMILIES:
        cond = F.col("event_type") == etype
        fam_col = (
            F.when(cond, fam) if fam_col is None else fam_col.when(cond, fam)
        )
        dst_col = (
            F.when(cond, _uv_fam_dst(mult))
            if dst_col is None
            else dst_col.when(cond, _uv_fam_dst(mult))
        )
    pairs = e.select(
        "user_id", fam_col.alias("fam"), dst_col.alias("dst")
    ).where(F.col("fam").isNotNull())
    cnts = pairs.groupBy("user_id", "fam", "dst").agg(F.count(F.lit(1)).alias("cnt"))
    # in-side stats from the SAME cnts relation: rows per (fam, dst) are
    # distinct sources, so indeg = row count, inweight = sum(cnt) — one
    # tiny agg over the target id space, no per-family outer-join chain
    ins = cnts.groupBy(F.col("dst").alias("user_id")).agg(
        *[
            F.sum(F.when(F.col("fam") == fam, 1).otherwise(0)).alias(f"{fam}_indeg")
            for fam, _, _ in UV_FAMILIES
        ],
        *[
            F.sum(
                F.when(F.col("fam") == fam, F.col("cnt")).otherwise(0)
            ).alias(f"{fam}_inw")
            for fam, _, _ in UV_FAMILIES
        ],
    )
    wr = W.partitionBy("user_id", "fam").orderBy(
        F.col("cnt").desc(), F.col("dst").asc()
    )
    top_str = (
        cnts.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= 3)
        .groupBy("user_id", "fam")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("rn").alias("r"),
                                F.concat_ws(":", F.col("dst"), F.col("cnt")).alias("s"),
                            )
                        )
                    ),
                    lambda x: x["s"],
                ),
            ).alias("s")
        )
    )
    tops = top_str.groupBy("user_id").agg(
        *[
            F.max(F.when(F.col("fam") == fam, F.col("s"))).alias(f"top_{fam}")
            for fam, _, _ in UV_FAMILIES
        ]
    )

    docs = _t(spark, sf, "documents")
    lex = _lexicon_spark(spark)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    doc_senti = (
        toks.join(F.broadcast(lex), toks.tok == lex.word)
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("score") > 0, F.col("score")).otherwise(0)).alias("dp"),
            F.sum(F.when(F.col("score") > 0, 1).otherwise(0)).alias("np"),
            F.sum(F.when(F.col("score") < 0, F.col("score")).otherwise(0)).alias("dn"),
            F.sum(F.when(F.col("score") < 0, 1).otherwise(0)).alias("nn"),
        )
    )
    doc_meta = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tags"),
        "source",
    )
    usent = (
        e.select(
            "user_id", F.pmod(F.col("event_id"), F.lit(UV_SENTI_DOC_MOD)).alias("doc_id")
        )
        .join(F.broadcast(doc_senti), "doc_id", "left")
        .join(F.broadcast(doc_meta), "doc_id", "left")
        .groupBy("user_id")
        .agg(
            F.sum(F.coalesce("np", F.lit(0))).alias("n_pos_tok"),
            F.sum(F.coalesce("nn", F.lit(0))).alias("n_neg_tok"),
            F.round(
                F.sum(F.coalesce("dp", F.lit(0)))
                / F.greatest(F.sum(F.coalesce("np", F.lit(0))), F.lit(1)),
                4,
            ).alias("senti_pos"),
            F.round(
                F.sum(F.coalesce("dn", F.lit(0)))
                / F.greatest(F.sum(F.coalesce("nn", F.lit(0))), F.lit(1)),
                4,
            ).alias("senti_neg"),
            F.sum(F.coalesce("n_tags", F.lit(0))).alias("total_tags"),
            F.countDistinct("source").alias("n_sources"),
            F.countDistinct("doc_id").alias("n_docs_seen"),
        )
    )
    out = (
        vec.join(F.broadcast(ins), "user_id", "left")
        .join(F.broadcast(tops), "user_id", "left")
        .join(usent, "user_id")
    )
    for fam, _, _ in UV_FAMILIES:
        out = (
            out.withColumn(f"{fam}_indeg", F.coalesce(f"{fam}_indeg", F.lit(0)))
            .withColumn(f"{fam}_inw", F.coalesce(f"{fam}_inw", F.lit(0)))
            .withColumn(
                f"{fam}_avg_outw",
                F.round(
                    F.col(f"{fam}_outw") / F.greatest(F.col(f"{fam}_outdeg"), F.lit(1)),
                    4,
                ),
            )
            .withColumn(
                f"{fam}_avg_inw",
                F.round(
                    F.col(f"{fam}_inw") / F.greatest(F.col(f"{fam}_indeg"), F.lit(1)),
                    4,
                ),
            )
            .withColumn(
                f"{fam}_ratio",
                F.round(
                    F.col(f"{fam}_outdeg")
                    / F.greatest(F.col(f"{fam}_indeg"), F.lit(1)),
                    4,
                ),
            )
            .withColumn(
                f"{fam}_pcnt",
                F.round(100.0 * F.col(f"{fam}_outw") / F.col("n_events"), 4),
            )
            .withColumn(f"top_{fam}", F.coalesce(f"top_{fam}", F.lit("")))
        )
    return out.withColumn(
        "weekend_pcnt",
        F.round(100.0 * (F.col("dw1") + F.col("dw7")) / F.col("n_events"), 4),
    ).withColumn(
        "avg_tags", F.round(F.col("total_tags") / F.col("n_events"), 4)
    )


def _uv_grid_sql() -> str:
    cols = []
    for h in range(24):
        cols.append(
            f"cast(sum(CASE WHEN in_win AND hrs % 24 = {h} THEN 1 ELSE 0 END) as bigint) AS h{h:02d}"
        )
    for d in range(UV_GRID_DAYS):
        cols.append(
            f"cast(sum(CASE WHEN in_win AND hrs // 24 = {d} THEN 1 ELSE 0 END) as bigint) AS d{d:02d}"
        )
    for h in range(24):
        cols.append(
            f"cast(sum(CASE WHEN hour(ts) = {h} THEN 1 ELSE 0 END) as bigint) AS ha{h:02d}"
        )
    for i in range(1, 8):  # DuckDB dayofweek: 0=Sunday — shift to Spark's 1..7
        cols.append(
            f"cast(sum(CASE WHEN dayofweek(ts) + 1 = {i} THEN 1 ELSE 0 END) as bigint) AS dw{i}"
        )
    for i in range(1, 8):
        for h in range(24):
            cols.append(
                f"cast(sum(CASE WHEN dayofweek(ts) + 1 = {i} AND hour(ts) = {h}"
                f" THEN 1 ELSE 0 END) as bigint) AS hd{i}_{h:02d}"
            )
    for m in range(1, 13):
        cols.append(
            f"cast(sum(CASE WHEN month(ts) = {m} THEN 1 ELSE 0 END) as bigint) AS mo{m:02d}"
        )
    for dm in range(1, 32):
        cols.append(
            f"cast(sum(CASE WHEN day(ts) = {dm} THEN 1 ELSE 0 END) as bigint) AS dom{dm:02d}"
        )
    bucket = f"least(cast(floor(log2(gap + 1)) as bigint), {UV_GAP_BUCKETS - 1})"
    for g in range(UV_GAP_BUCKETS):
        cols.append(
            f"cast(sum(CASE WHEN gap IS NOT NULL AND {bucket} = {g} THEN 1 ELSE 0 END) as bigint) AS g{g:02d}"
        )
    cols.append(
        "round(coalesce(sum(gap), 0) * 1.0 / greatest(count(gap), 1), 4) AS avg_gap"
    )
    cols.append("cast(coalesce(max(gap), 0) as bigint) AS max_gap")
    for fam, etype, mult in UV_FAMILIES:
        dst = f"1 + (event_id * {mult}) % {UV_TGT_MOD}"
        cols.append(
            f"count(DISTINCT CASE WHEN event_type = '{etype}' THEN {dst} END) AS {fam}_outdeg"
        )
        cols.append(
            f"cast(sum(CASE WHEN event_type = '{etype}' THEN 1 ELSE 0 END) as bigint) AS {fam}_outw"
        )
    return ",\n       ".join(cols)


def _uv_fam_sql() -> tuple[str, str, str]:
    """In-side + top-3 family CTEs and their final-select columns."""
    in_ctes, top_pairs, final = [], [], []
    for fam, etype, mult in UV_FAMILIES:
        dst = f"1 + (event_id * {mult}) % {UV_TGT_MOD}"
        in_ctes.append(
            f"""{fam}_in AS (
  SELECT uid AS user_id, count(DISTINCT src) AS {fam}_indeg,
         count(*) AS {fam}_inw
  FROM (SELECT user_id AS src, {dst} AS uid
        FROM events WHERE event_type = '{etype}')
  GROUP BY 1)"""
        )
        top_pairs.append(
            f"SELECT user_id, '{fam}' AS fam, {dst} AS dst "
            f"FROM events WHERE event_type = '{etype}'"
        )
        final.append(f"coalesce({fam}_in.{fam}_indeg, 0) AS {fam}_indeg")
        final.append(f"coalesce({fam}_in.{fam}_inw, 0) AS {fam}_inw")
        final.append(
            f"round(vec.{fam}_outw * 1.0 / greatest(vec.{fam}_outdeg, 1), 4) AS {fam}_avg_outw"
        )
        final.append(
            f"round(coalesce({fam}_in.{fam}_inw, 0) * 1.0"
            f" / greatest(coalesce({fam}_in.{fam}_indeg, 0), 1), 4) AS {fam}_avg_inw"
        )
        final.append(
            f"round(vec.{fam}_outdeg * 1.0"
            f" / greatest(coalesce({fam}_in.{fam}_indeg, 0), 1), 4) AS {fam}_ratio"
        )
        final.append(
            f"round(100.0 * vec.{fam}_outw / vec.n_events, 4) AS {fam}_pcnt"
        )
        final.append(f"coalesce(tp.top_{fam}, '') AS top_{fam}")
    top_cte = f"""fam_pairs AS (
  {'  UNION ALL '.join(top_pairs)}),
fam_cnts AS (
  SELECT user_id, fam, dst, count(*) AS cnt FROM fam_pairs GROUP BY 1, 2, 3),
fam_rn AS (
  SELECT *, row_number() OVER (
      PARTITION BY user_id, fam ORDER BY cnt DESC, dst ASC) AS rn
  FROM fam_cnts),
fam_tops AS (
  SELECT user_id, fam,
         string_agg(cast(dst as varchar) || ':' || cast(cnt as varchar),
                    ',' ORDER BY rn) AS s
  FROM fam_rn WHERE rn <= 3 GROUP BY 1, 2),
tp AS (
  SELECT user_id,
         {', '.join(f"max(CASE WHEN fam = '{fam}' THEN s END) AS top_{fam}" for fam, _, _ in UV_FAMILIES)}
  FROM fam_tops GROUP BY user_id)"""
    joins = "\n".join(
        f"LEFT JOIN {fam}_in USING (user_id)" for fam, _, _ in UV_FAMILIES
    ) + "\nLEFT JOIN tp USING (user_id)"
    return ",\n".join(in_ctes) + ",\n" + top_cte, joins, ",\n       ".join(final)


O_USER_VECTOR_WIDE = f"""
WITH ev AS (
  SELECT *,
         cast(floor(epoch(date_trunc('day', max(ts) OVER (PARTITION BY user_id)))) as bigint) AS lastday_e
  FROM events),
ev2 AS (
  SELECT *,
         lastday_e - {30 * 86400} AS monthstart_e,
         cast(floor(epoch(ts)) as bigint) AS te
  FROM ev),
ev3 AS (
  SELECT *,
         te > monthstart_e AND te <= lastday_e AS in_win,
         cast(floor((te - monthstart_e) / 3600.0) as bigint) AS hrs,
         te - lag(te) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM ev2),
vec AS (
  SELECT user_id,{_SQL_UV_BASE},
       {{GRID}}
  FROM ev3 GROUP BY user_id),
lex AS ({{LEX}}),
doc_senti AS (
  SELECT doc_id,
         cast(sum(CASE WHEN score > 0 THEN score ELSE 0 END) as bigint) AS dp,
         cast(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) as bigint) AS np,
         cast(sum(CASE WHEN score < 0 THEN score ELSE 0 END) as bigint) AS dn,
         cast(sum(CASE WHEN score < 0 THEN 1 ELSE 0 END) as bigint) AS nn
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
  JOIN lex ON t.tok = lex.word
  GROUP BY doc_id),
doc_meta AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tags, source FROM documents),
usent AS (
  SELECT user_id,
         cast(sum(coalesce(np, 0)) as bigint) AS n_pos_tok,
         cast(sum(coalesce(nn, 0)) as bigint) AS n_neg_tok,
         round(sum(coalesce(dp, 0)) * 1.0 / greatest(sum(coalesce(np, 0)), 1), 4) AS senti_pos,
         round(sum(coalesce(dn, 0)) * 1.0 / greatest(sum(coalesce(nn, 0)), 1), 4) AS senti_neg,
         cast(sum(coalesce(n_tags, 0)) as bigint) AS total_tags,
         count(DISTINCT source) AS n_sources,
         count(DISTINCT doc_id) AS n_docs_seen
  FROM (SELECT user_id, event_id % {UV_SENTI_DOC_MOD} AS doc_id FROM events) e
  LEFT JOIN doc_senti USING (doc_id)
  LEFT JOIN doc_meta USING (doc_id)
  GROUP BY user_id),
{{FAM_CTES}}
SELECT vec.*,
       usent.n_pos_tok, usent.n_neg_tok, usent.senti_pos, usent.senti_neg,
       usent.total_tags, usent.n_sources, usent.n_docs_seen,
       round(usent.total_tags * 1.0 / vec.n_events, 4) AS avg_tags,
       round(100.0 * (vec.dw1 + vec.dw7) / vec.n_events, 4) AS weekend_pcnt,
       {{FAM_FINAL}}
FROM vec JOIN usent USING (user_id)
{{FAM_JOINS}}
"""


def _o_user_vector_wide() -> str:
    # the lexicon SQL lives next to the Spark lexicon helper so the two
    # stay in lockstep; imported lazily to keep module load order free
    from .coverage_queries import _SQL_LEXICON

    fam_ctes, fam_joins, fam_final = _uv_fam_sql()
    return O_USER_VECTOR_WIDE.format(
        GRID=_uv_grid_sql(),
        LEX=_SQL_LEXICON,
        FAM_CTES=fam_ctes,
        FAM_JOINS=fam_joins,
        FAM_FINAL=fam_final,
    )


def q_viz_degree_distribution(spark, sf):
    """Degree-distribution export (twkit/visualization/tweetsperuser.py
    power-law plot data): how many suppliers have out-degree k."""
    li = _t(spark, sf, "lineitem")
    deg = li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("degree")
    )
    return deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


O_VIZ_DEGREE = """
SELECT degree, count(*) AS n_nodes FROM (
  SELECT l_suppkey, count(DISTINCT l_partkey) AS degree
  FROM lineitem GROUP BY l_suppkey)
GROUP BY degree
"""


def q_a8_log_buckets(spark, sf):
    """A8 log-scale interval buckets (stats.py:75 [30,60,3600,86400] +
    log_event :78-86): inter-event gaps classified per bucket."""
    e = _t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = _epoch(F.col("ts")) - F.lag(_epoch(F.col("ts"))).over(w)
    bucket = (
        F.when(gap < 30, "lt_30s")
        .when(gap < 60, "lt_1m")
        .when(gap < 3600, "lt_1h")
        .when(gap < 86400, "lt_1d")
        .otherwise("ge_1d")
    )
    return (
        e.select(gap.alias("gap"), bucket.alias("bucket"))
        .where(F.col("gap").isNotNull())
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), F.round(F.avg("gap"), 4).alias("avg_gap"))
    )


O_A8_LOG = """
WITH g AS (
  SELECT cast(floor(epoch(ts)) as bigint)
           - lag(cast(floor(epoch(ts)) as bigint))
             OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS gap
  FROM events)
SELECT CASE WHEN gap < 30 THEN 'lt_30s' WHEN gap < 60 THEN 'lt_1m'
            WHEN gap < 3600 THEN 'lt_1h' WHEN gap < 86400 THEN 'lt_1d'
            ELSE 'ge_1d' END AS bucket,
       count(*) AS n, round(avg(gap), 4) AS avg_gap
FROM g WHERE gap IS NOT NULL GROUP BY 1
"""


# ------------------------------------------------- crawler-trap detection


def q_trap_detection(spark, sf):
    """Crawler-trap / infinite-URL-space detection: per host, compare
    the distinct-URL count against the distinct URL-TEMPLATE count
    (digit runs collapsed to 'N' — calendar pages, session ids,
    pagination all fold to one template). A host whose URL space keeps
    growing while its template space stays flat is a trap — the
    scheduler should demote it before it eats the per-host budget.
    URLs derive from events per the fixture convention (host =
    'h'||user_id%20; hosts h0-h4 carry an id-bearing path shape).

    100 TB shape: one groupBy(host) with two count-distincts (Catalyst
    expands to a two-phase distinct agg; production at 10^10 URLs
    would swap in approx_count_distinct HLL — same plan minus the
    expand). No windows, no joins. Reference tie-in: the per-user
    fetch cutoffs that stop runaway timelines (twkit/crawler/
    crawl.py:105-131) are the same depth-bounding decision made
    per-host here."""
    e = _t(spark, sf, "events")
    hostnum = F.pmod(F.col("user_id"), F.lit(20))
    host = F.concat(F.lit("h"), hostnum.cast("string"))
    path = F.when(
        hostnum < 5,
        F.concat(F.lit("/page/"), F.col("event_id").cast("string"),
                 F.lit("/"), F.col("event_type")),
    ).otherwise(F.concat(F.lit("/cat/"), F.col("event_type")))
    urls = e.select(
        host.alias("host"),
        F.concat(F.lit("https://"), host, F.lit(".example.com"), path).alias("url"),
        F.regexp_replace(path, "[0-9]+", "N").alias("tpl"),
    )
    agg = urls.groupBy("host").agg(
        F.countDistinct("url").alias("n_urls"),
        F.countDistinct("tpl").alias("n_templates"),
    )
    return agg.select(
        "host",
        "n_urls",
        "n_templates",
        F.round(F.col("n_urls") / F.col("n_templates"), 4).alias("url_per_template"),
        F.when(F.col("n_urls") / F.col("n_templates") > 20, 1)
        .otherwise(0)
        .cast("long")
        .alias("is_trap"),
    )


O_TRAP_DETECTION = """
WITH u AS (
  SELECT 'h' || cast(user_id % 20 as varchar) AS host,
         CASE WHEN user_id % 20 < 5
              THEN '/page/' || cast(event_id as varchar) || '/' || event_type
              ELSE '/cat/' || event_type END AS path
  FROM events),
urls AS (
  SELECT host,
         'https://' || host || '.example.com' || path AS url,
         regexp_replace(path, '[0-9]+', 'N', 'g') AS tpl
  FROM u)
SELECT host,
       count(DISTINCT url) AS n_urls,
       count(DISTINCT tpl) AS n_templates,
       round(count(DISTINCT url) * 1.0 / count(DISTINCT tpl), 4) AS url_per_template,
       cast(CASE WHEN count(DISTINCT url) * 1.0 / count(DISTINCT tpl) > 20
                 THEN 1 ELSE 0 END as bigint) AS is_trap
FROM urls GROUP BY host
"""


# --------------------------------------- adaptive per-host politeness


def q_host_adaptive_budget(spark, sf):
    """AIMD-style adaptive politeness: scale each host's next-round
    fetch budget by how its observed fetch latency (events.value as
    the latency proxy) compares to the fleet-wide mean — slow hosts
    get throttled toward 1, fast hosts earn up to 2x the base budget.
    This is the adaptive tier above the static per-host budget the
    round plan already enforces (plans/round.py build_two_phase_plan);
    the reference's equivalent is the rate-limit backoff that stretches
    the crawl cadence when the API slows (twkit/utils.py rate-limit
    handling).

    100 TB shape: one map-side-combinable groupBy(host) + a broadcast
    1-row fleet mean; the output is one row per host (20 here, ~10^7
    at web scale) which feeds the next round's budget join. No
    windows, no skew surface."""
    e = _t(spark, sf, "events")
    host = F.concat(F.lit("h"), F.pmod(F.col("user_id"), F.lit(20)).cast("string"))
    per_host = e.select(host.alias("host"), "value").groupBy("host").agg(
        F.count("*").alias("n_fetches"), F.avg("value").alias("lat")
    )
    fleet = per_host.agg(F.avg("lat").alias("fleet_lat"))
    base = 16
    ratio = F.col("fleet_lat") / F.col("lat")
    return per_host.crossJoin(F.broadcast(fleet)).select(
        "host",
        "n_fetches",
        F.round(F.col("lat"), 4).alias("avg_latency"),
        F.greatest(
            F.lit(1),
            F.least(F.lit(2 * base), F.floor(base * ratio)),
        ).cast("long").alias("next_budget"),
    )


O_HOST_ADAPTIVE_BUDGET = """
WITH per_host AS (
  SELECT 'h' || cast(user_id % 20 as varchar) AS host,
         count(*) AS n_fetches, avg(value) AS lat
  FROM events GROUP BY 1),
fleet AS (SELECT avg(lat) AS fleet_lat FROM per_host)
SELECT host, n_fetches, round(lat, 4) AS avg_latency,
       cast(greatest(1, least(32, floor(16 * fleet_lat / lat))) as bigint)
         AS next_budget
FROM per_host, fleet
"""


# ----------------------------------------------------- sitemap ingestion


def q_sitemap_ingest(spark, sf):
    """Sitemap-source frontier expansion: build each host's sitemap XML
    (one <url><loc> entry per known URL, deterministic line order),
    PARSE the locs back out with regexp_extract_all, and anti-join the
    parsed candidates against the seen-set — the S4-style secondary
    discovery source feeding the same admission gate as outlinks.
    Seen here = every URL whose event_id % 3 == 0 (the already-crawled
    third). Output: per host, locs parsed / new / dupes.

    100 TB shape: real sitemaps arrive as fetched documents, so the
    parse is a map-only regexp over the document column; the dedup is
    the standard bloom/anti-join admission path (P5/X5). The groupBy
    here exists only to SYNTHESIZE the sitemap text deterministically
    — production skips straight from fetched sitemap bytes to the
    explode. Reference: the crawler's secondary URL sources
    (twkit/crawler getfollowers/getfriends cursor walks) discovering
    ids outside the timeline path."""
    e = _t(spark, sf, "events")
    host = F.concat(F.lit("h"), F.pmod(F.col("user_id"), F.lit(20)).cast("string"))
    url = F.concat(
        F.lit("https://"), host, F.lit(".example.com/p/"),
        F.col("event_id").cast("string"),
    )
    lines = e.select(
        host.alias("host"),
        F.col("event_id"),
        F.concat(F.lit("<url><loc>"), url, F.lit("</loc></url>")).alias("line"),
        url.alias("url"),
    )
    sitemaps = lines.groupBy("host").agg(
        F.concat_ws("\n", F.array_sort(F.collect_list("line"))).alias("xml")
    )
    parsed = sitemaps.select(
        "host",
        F.explode(
            F.expr(r"regexp_extract_all(xml, '<loc>([^<]+)</loc>', 1)")
        ).alias("loc"),
    ).dropDuplicates(["host", "loc"])
    seen = lines.where(F.pmod(F.col("event_id"), F.lit(3)) == 0).select(
        F.col("url").alias("loc")
    ).distinct()
    marked = parsed.join(
        seen.withColumn("__s", F.lit(1)), "loc", "left"
    )
    return marked.groupBy("host").agg(
        F.count("*").alias("n_locs"),
        F.sum(F.when(F.col("__s").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("__s").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_dupes"),
    )


O_SITEMAP_INGEST = """
WITH lines AS (
  SELECT 'h' || cast(user_id % 20 as varchar) AS host, event_id,
         'https://h' || cast(user_id % 20 as varchar) || '.example.com/p/'
           || cast(event_id as varchar) AS url
  FROM events),
sitemaps AS (
  SELECT host,
         string_agg('<url><loc>' || url || '</loc></url>', chr(10)
                    ORDER BY '<url><loc>' || url || '</loc></url>') AS xml
  FROM lines GROUP BY host),
parsed AS (
  SELECT DISTINCT host,
         unnest(regexp_extract_all(xml, '<loc>([^<]+)</loc>', 1)) AS loc
  FROM sitemaps),
seen AS (SELECT DISTINCT url AS loc FROM lines WHERE event_id % 3 = 0)
SELECT host, count(*) AS n_locs,
       cast(sum(CASE WHEN s.loc IS NULL THEN 1 ELSE 0 END) as bigint) AS n_new,
       cast(sum(CASE WHEN s.loc IS NOT NULL THEN 1 ELSE 0 END) as bigint) AS n_dupes
FROM parsed p LEFT JOIN seen s USING (loc)
GROUP BY host
"""


# ------------------------------------------------------- robots parsing


def q_robots_parse(spark, sf):
    """robots.txt parsing + gating in one plan: synthesize each host's
    robots file (User-agent, per-host Disallow rules — the id-bearing
    /page/ spaces of hosts h0-h4 are disallowed, which is exactly the
    trap_detection verdict — and a Crawl-delay directive), PARSE the
    directives back out with line regexps, and gate the host's URL set
    against the parsed prefixes. Output per host: parsed crawl_delay,
    rule count, blocked/allowed URL counts.

    100 TB shape: robots files are one tiny doc per host — the parsed
    rule table broadcasts onto the frontier scan (the engine's robots
    gate, plans/round.py, consumes exactly this shape); the URL gate
    is a map-side starts_with over the broadcast prefix list.
    Reference: the politeness/backoff layer (twkit/utils.py) plus the
    per-host fetch gating of crawl-tweets.sh."""
    e = _t(spark, sf, "events")
    hostnum = F.pmod(F.col("user_id"), F.lit(20))
    host = F.concat(F.lit("h"), hostnum.cast("string"))
    path = F.when(
        hostnum < 5,
        F.concat(F.lit("/page/"), F.col("event_id").cast("string"),
                 F.lit("/"), F.col("event_type")),
    ).otherwise(F.concat(F.lit("/cat/"), F.col("event_type")))
    urls = e.select(host.alias("host"), path.alias("path")).dropDuplicates()
    hosts = urls.select("host").distinct()
    robots = hosts.select(
        "host",
        F.concat(
            F.lit("User-agent: *\n"),
            F.when(
                F.substring("host", 2, 10).cast("int") < 5,
                F.lit("Disallow: /page/\n"),
            ).otherwise(F.lit("")),
            F.lit("Disallow: /private/\n"),
            F.lit("Crawl-delay: "),
            (1 + F.pmod(F.substring("host", 2, 10).cast("int"), F.lit(7))).cast(
                "string"
            ),
        ).alias("txt"),
    )
    parsed = robots.select(
        "host",
        F.expr(r"regexp_extract_all(txt, 'Disallow: ([^\\n]+)', 1)").alias("rules"),
        F.regexp_extract("txt", r"Crawl-delay: (\d+)", 1)
        .cast("long")
        .alias("crawl_delay"),
    )
    gated = urls.join(F.broadcast(parsed), "host").select(
        "host",
        "crawl_delay",
        F.size("rules").alias("n_rules"),
        F.when(
            F.exists("rules", lambda r: F.col("path").startswith(r)), 1
        )
        .otherwise(0)
        .alias("blocked"),
    )
    return gated.groupBy("host", "crawl_delay", "n_rules").agg(
        F.sum("blocked").cast("long").alias("n_blocked"),
        F.sum(1 - F.col("blocked")).cast("long").alias("n_allowed"),
    )


O_ROBOTS_PARSE = r"""
WITH u AS (
  SELECT DISTINCT 'h' || cast(user_id % 20 as varchar) AS host,
         CASE WHEN user_id % 20 < 5
              THEN '/page/' || cast(event_id as varchar) || '/' || event_type
              ELSE '/cat/' || event_type END AS path
  FROM events),
robots AS (
  SELECT host,
         'User-agent: *' || chr(10)
         || CASE WHEN cast(substring(host, 2) as int) < 5
                 THEN 'Disallow: /page/' || chr(10) ELSE '' END
         || 'Disallow: /private/' || chr(10)
         || 'Crawl-delay: '
         || cast(1 + cast(substring(host, 2) as int) % 7 as varchar) AS txt
  FROM (SELECT DISTINCT host FROM u)),
parsed AS (
  SELECT host,
         regexp_extract_all(txt, 'Disallow: ([^\n]+)', 1) AS rules,
         cast(regexp_extract(txt, 'Crawl-delay: (\d+)', 1) as bigint)
           AS crawl_delay
  FROM robots),
gated AS (
  SELECT u.host, crawl_delay, len(rules) AS n_rules,
         CASE WHEN len(list_filter(rules, r -> starts_with(u.path, r))) > 0
              THEN 1 ELSE 0 END AS blocked
  FROM u JOIN parsed ON u.host = parsed.host)
SELECT host, crawl_delay, n_rules,
       cast(sum(blocked) as bigint) AS n_blocked,
       cast(sum(1 - blocked) as bigint) AS n_allowed
FROM gated GROUP BY host, crawl_delay, n_rules
"""


# ------------------------------------------------- WARC record ingestion

def q_warc_ingest(spark, sf):
    """WARC response-record ingestion (ISO 28500 / WARC 1.1 — the
    public web-crawl interchange format; Common Crawl ships it):
    documents are serialized as WARC records (version line, WARC-Type /
    WARC-Target-URI / WARC-Record-ID / Content-Length headers, CRLF
    CRLF, then the HTTP response block), every doc_id%7==0 additionally
    emits a `request` record, and every doc_id%11==0 response DECLARES
    a Content-Length one octet short (a truncated transfer). The parse
    side sees only the record string: header extraction is regexp over
    the record, the HTTP block splits on CRLFCRLF, non-response records
    are gated out, and a record is VALID iff its declared
    Content-Length matches the actual HTTP-block octet count. Output:
    per-host ingest audit (records, responses, valid, payload bytes,
    distinct URIs).

    100 TB shape: MAP-ONLY — fetched WARC text is parsed with column
    regex/split expressions (no Python), feeding the same per-host
    rollup every ingest runs; validation failures are the refetch
    candidates the scheduler re-admits. The synthesis half exists only
    to make the fixture deterministic — production starts at the
    record column. Reference: twAwler persists raw fetched JSON per
    tweet (dumpall.py bulk insert); WARC is the crawl-archive
    generalization of that raw-capture layer."""
    d = _t(spark, sf, "documents")
    host = F.concat(F.lit("h"), F.pmod(F.col("doc_id"), F.lit(20)).cast("string"))
    uri = F.concat(
        F.lit("https://"), host, F.lit(".example.com/doc/"),
        F.col("doc_id").cast("string"),
    )
    http = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"),
        F.col("text"),
    )
    declared = F.when(
        F.col("doc_id") % 11 == 0, F.length(http) - 1
    ).otherwise(F.length(http))

    def warc(wtype, block, decl):
        return F.concat(
            F.lit("WARC/1.0\r\nWARC-Type: "), F.lit(wtype),
            F.lit("\r\nWARC-Target-URI: "), uri,
            F.lit("\r\nWARC-Record-ID: <urn:uuid:doc-"),
            F.col("doc_id").cast("string"),
            F.lit(">\r\nContent-Length: "), decl.cast("string"),
            F.lit("\r\n\r\n"), block,
        )

    req_http = F.concat(
        F.lit("GET /doc/"), F.col("doc_id").cast("string"),
        F.lit(" HTTP/1.1\r\nHost: "), host, F.lit("\r\n\r\n"),
    )
    recs = (
        d.select(warc("response", http, declared).alias("rec"))
        .unionAll(
            d.where(F.col("doc_id") % 7 == 0).select(
                warc("request", req_http, F.length(req_http)).alias("rec")
            )
        )
    )
    # ---- parse side: only `rec` is visible from here on
    parts = F.split(F.col("rec"), "\r\n\r\n")
    p = recs.select(
        F.regexp_extract("rec", r"WARC-Type: ([^\r\n]+)", 1).alias("wtype"),
        F.regexp_extract("rec", r"WARC-Target-URI: ([^\r\n]+)", 1).alias("uri"),
        F.regexp_extract("rec", r"Content-Length: ([0-9]+)", 1)
        .cast("long")
        .alias("declared"),
        (F.length(F.element_at(parts, 2)) + 4 + F.length(F.element_at(parts, 3)))
        .cast("long")
        .alias("actual"),
        F.length(F.element_at(parts, 3)).cast("long").alias("body_len"),
    )
    p = p.select(
        F.regexp_extract("uri", r"https://([^.]+)\.", 1).alias("host"),
        "wtype", "uri", "declared", "actual", "body_len",
    )
    return p.groupBy("host").agg(
        F.count("*").alias("n_records"),
        F.sum(F.when(F.col("wtype") == "response", 1).otherwise(0)).alias(
            "n_responses"
        ),
        F.sum(
            F.when(
                (F.col("wtype") == "response")
                & (F.col("declared") == F.col("actual")),
                1,
            ).otherwise(0)
        ).alias("n_valid"),
        F.sum(
            F.when(
                (F.col("wtype") == "response")
                & (F.col("declared") == F.col("actual")),
                F.col("body_len"),
            ).otherwise(0)
        ).alias("payload_chars"),
        F.countDistinct("uri").alias("n_uris"),
    )


O_WARC_INGEST = r"""
WITH d AS (
  SELECT doc_id, text, 'h' || cast(doc_id % 20 as varchar) AS host,
         'https://h' || cast(doc_id % 20 as varchar)
           || '.example.com/doc/' || cast(doc_id as varchar) AS uri,
         'HTTP/1.1 200 OK' || chr(13)||chr(10) || 'Content-Type: text/plain'
           || chr(13)||chr(10)||chr(13)||chr(10) || text AS http
  FROM documents),
recs AS (
  SELECT 'WARC/1.0' || chr(13)||chr(10) || 'WARC-Type: response'
         || chr(13)||chr(10) || 'WARC-Target-URI: ' || uri
         || chr(13)||chr(10) || 'WARC-Record-ID: <urn:uuid:doc-'
         || cast(doc_id as varchar) || '>'
         || chr(13)||chr(10) || 'Content-Length: '
         || cast(CASE WHEN doc_id % 11 = 0 THEN length(http) - 1
                      ELSE length(http) END as varchar)
         || chr(13)||chr(10)||chr(13)||chr(10) || http AS rec
  FROM d
  UNION ALL
  SELECT 'WARC/1.0' || chr(13)||chr(10) || 'WARC-Type: request'
         || chr(13)||chr(10) || 'WARC-Target-URI: ' || uri
         || chr(13)||chr(10) || 'WARC-Record-ID: <urn:uuid:doc-'
         || cast(doc_id as varchar) || '>'
         || chr(13)||chr(10) || 'Content-Length: '
         || cast(length('GET /doc/' || cast(doc_id as varchar)
                 || ' HTTP/1.1' || chr(13)||chr(10) || 'Host: ' || host
                 || chr(13)||chr(10)||chr(13)||chr(10)) as varchar)
         || chr(13)||chr(10)||chr(13)||chr(10)
         || 'GET /doc/' || cast(doc_id as varchar) || ' HTTP/1.1'
         || chr(13)||chr(10) || 'Host: ' || host
         || chr(13)||chr(10)||chr(13)||chr(10) AS rec
  FROM d WHERE doc_id % 7 = 0),
p AS (
  SELECT regexp_extract(rec, 'WARC-Type: ([^\r\n]+)', 1) AS wtype,
         regexp_extract(rec, 'WARC-Target-URI: ([^\r\n]+)', 1) AS uri,
         cast(regexp_extract(rec, 'Content-Length: ([0-9]+)', 1) as bigint)
           AS declared,
         cast(length(string_split(rec,
                chr(13)||chr(10)||chr(13)||chr(10))[2]) + 4
              + length(string_split(rec,
                chr(13)||chr(10)||chr(13)||chr(10))[3]) as bigint) AS actual,
         cast(length(string_split(rec,
                chr(13)||chr(10)||chr(13)||chr(10))[3]) as bigint) AS body_len
  FROM recs),
h AS (
  SELECT regexp_extract(uri, 'https://([^.]+)\.', 1) AS host,
         wtype, uri, declared, actual, body_len
  FROM p)
SELECT host, count(*) AS n_records,
       cast(sum(CASE WHEN wtype = 'response' THEN 1 ELSE 0 END) as bigint)
         AS n_responses,
       cast(sum(CASE WHEN wtype = 'response' AND declared = actual
                     THEN 1 ELSE 0 END) as bigint) AS n_valid,
       cast(sum(CASE WHEN wtype = 'response' AND declared = actual
                     THEN body_len ELSE 0 END) as bigint) AS payload_chars,
       count(DISTINCT uri) AS n_uris
FROM h GROUP BY host
"""
