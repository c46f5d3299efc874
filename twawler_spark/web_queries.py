"""Round-5e web-scale crawl/curation queries.

Five operators a production web crawler + LLM-corpus pipeline runs on
top of the scheduling core, each with a full DuckDB oracle:

  anchor_text         per-target anchor-word aggregation over the round's
                      discovered outlinks (the classic link-text signal a
                      crawler feeds back into priority + search feeds into
                      ranking; reference analog: the mention/hashtag
                      aggregations of twkit/analytics/freq.py, re-keyed by
                      link target instead of author)
  interleaved_filter  OBELICS/MMC4-style curation of interleaved text+media
                      span documents: per-doc span stats + cross-document
                      media dedup (boilerplate logos) + a keep rule — runs
                      on the north-rule payload shape itself
  sitemap_coverage    per-host sitemap-vs-crawl diff in BOTH directions
                      (pending sitemap URLs; orphan crawled URLs) — the
                      coverage audit that drives re-seeding
  host_components     connected components over the host-to-host link
                      graph (crawl islands) — seed-list coverage analysis,
                      reusing the large-star/small-star CC operator
  url_blocklist       UT1/RefinedWeb-style domain blocklist admission with
                      dot-suffix matching (block 'd3.com' => blocks every
                      subdomain), longest-match attribution

100 TB shapes are documented per query; none of them holds per-row
Python (the only Arrow stage is the shared deterministic fetch
synthesis in plans/fetcher.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import docspec
from .crawl_queries import (
    N_HOSTS,
    O_CRAWL_ROUND_DOCS,
    ROUND_NO,
    _plan,
    _SQL_PLAN_BASE,
    _stream,
    _VOCAB_SQL,
)
from .entry_queries import _t
from .plans.fetcher import discover_outlinks_anchored, fetch_documents, fetch_results

_V = len(docspec.VOCAB)

# ------------------------------------------------------------ anchor text


def q_anchor_text(spark: SparkSession, sf: str) -> DataFrame:
    """Anchor-text aggregation: for every target host linked by this
    round's fetches, the top-3 anchor words with link counts and
    source-host diversity (how many distinct hosts use that word for
    that target — the spam-resistance denominator).

    100 TB shape: explode outlinks once (Arrow fetch-synthesis stage,
    bounded by plan size), then ONE shuffle on the (target, anchor)
    composite key with map-side partial aggregation soaking up the
    power-law head; the top-k window runs on the already-aggregated
    rows, whose per-target cardinality is bounded by the anchor
    vocabulary, not the link count — so a hot target with 10^8 inlinks
    contributes the same window input as a cold one.
    Reference analog: freq.py's per-key mention counting, re-keyed by
    link target (twkit/analytics/freq.py:103)."""
    _, plan = _plan(spark, sf)
    links = discover_outlinks_anchored(fetch_results(plan), N_HOSTS)
    tgt = F.regexp_extract(F.col("url"), r"^https://(h\d+)\.", 1)
    agg = links.groupBy(tgt.alias("target_host"), F.col("anchor")).agg(
        F.count(F.lit(1)).alias("n_links"),
        F.countDistinct("src_host").alias("n_src_hosts"),
    )
    w = Window.partitionBy("target_host").orderBy(
        F.desc("n_links"), F.desc("n_src_hosts"), F.asc("anchor")
    )
    return agg.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= 3)


def _build_o_anchor() -> str:
    n_out = f"(({_stream('u', docspec._S_NOUT)}) % 4)::BIGINT"
    th = f"(({_stream('u', docspec._S_OUTHOST, 'j')}) % {N_HOSTS})::BIGINT"
    anchor = f"({_VOCAB_SQL})[(1 + ({_stream('u', docspec._S_ANCHOR, 'j')}) % {_V})::BIGINT]"
    return f"""
WITH {_SQL_PLAN_BASE},
st AS (SELECT host AS src_host, (url_hash)::HUGEINT AS u FROM plan),
st2 AS (SELECT *, ({_stream('u', docspec._S_STATUS)}) % 100 AS r100 FROM st),
ok AS (SELECT src_host, u, {n_out} AS nout FROM st2 WHERE r100 < 88),
lj AS (SELECT src_host, u, unnest(range(0, nout)) AS j FROM ok),
links AS (
  SELECT src_host,
         'h' || cast({th} as varchar) AS target_host,
         {anchor} AS anchor
  FROM lj),
aagg AS (
  SELECT target_host, anchor, count(*) AS n_links,
         count(DISTINCT src_host) AS n_src_hosts
  FROM links GROUP BY target_host, anchor),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY target_host
            ORDER BY n_links DESC, n_src_hosts DESC, anchor ASC) AS rnk
  FROM aagg)
SELECT target_host, anchor, n_links, n_src_hosts, rnk FROM rk WHERE rnk <= 3
"""


O_ANCHOR_TEXT = _build_o_anchor()


# ------------------------------------------------- interleaved-doc filter

BOILER_MIN_DOCS = 2     # media content key shared by >= this many docs
MIN_WORDS = 3           # keep rule: minimum text words per doc
MAX_REAL_MEDIA = 4      # keep rule: max non-boilerplate media spans


def q_interleaved_filter(spark: SparkSession, sf: str) -> DataFrame:
    """OBELICS/MMC4-style curation of one round's interleaved span
    documents: per-doc text/media span counts, total words, number of
    BOILERPLATE media spans (media whose content key appears in >=
    ``BOILER_MIN_DOCS`` distinct docs — the site-logo signal), and the
    keep decision (has text, enough words, bounded real-media count).

    The content key here is the low 12 bits of the synthetic media ref
    — standing in for the perceptual content fingerprint that
    media_phash_dedup computes from real bytes; the distributed shape
    is what matters: explode media spans once, ONE groupBy on the
    content key (heavy hitters only survive the >=K filter, so the
    boilerplate list is small by construction and broadcasts back),
    per-doc counts rejoined map-side. Everything else is span-array
    HOFs — no shuffle touches the documents themselves.
    Reference analog: the media table + per-tweet media attachment
    handling (twkit/crawler dumpall media entities)."""
    _, plan = _plan(spark, sf)
    docs = fetch_documents(plan, ROUND_NO).dropDuplicates(["doc_id"])
    spans = F.col("spans")
    text_spans = F.filter(spans, lambda s: s["kind"] == F.lit("text"))
    media_spans = F.filter(spans, lambda s: s["kind"] == F.lit("media"))
    base = docs.select(
        "doc_id",
        F.size(text_spans).alias("n_text"),
        F.size(media_spans).alias("n_media"),
        F.aggregate(
            text_spans,
            F.lit(0),
            lambda acc, s: acc + F.size(F.split(s["text"], " ")),
        ).alias("n_words"),
        F.transform(
            media_spans, lambda s: F.substring(s["media_ref"], 11, 3)
        ).alias("ckeys"),
    ).localCheckpoint(eager=False)
    # ^ the doc-level stats are referenced by three branches (explode,
    # boiler join-back, final join): checkpoint once so the fetch
    # Arrow stage runs once, not per branch
    m = base.select("doc_id", F.explode("ckeys").alias("ckey"))
    boiler = (
        m.groupBy("ckey")
        .agg(F.countDistinct("doc_id").alias("ndocs"))
        .where(F.col("ndocs") >= BOILER_MIN_DOCS)
        .select("ckey")
    )
    nb = (
        m.join(F.broadcast(boiler), "ckey")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_media_boiler"))
    )
    return (
        base.join(nb, "doc_id", "left")
        .select(
            "doc_id",
            "n_text",
            "n_media",
            "n_words",
            F.coalesce("n_media_boiler", F.lit(0)).alias("n_media_boiler"),
        )
        .withColumn(
            "keep",
            (F.col("n_text") >= 1)
            & (F.col("n_words") >= MIN_WORDS)
            & ((F.col("n_media") - F.col("n_media_boiler")) <= MAX_REAL_MEDIA),
        )
    )


def _build_o_interleaved() -> str:
    kind = lambda: f"({_stream('d', docspec._S_KIND, 'k')}) % 3"  # noqa: E731
    nwords = f"(1 + ({_stream('d', docspec._S_NWORDS, 'k')}) % 6)::BIGINT"
    media = (
        f"printf('m%012x', (({_stream('d', docspec._S_MEDIA, 'k')})"
        f" % 281474976710656::HUGEINT)::BIGINT)"
    )
    return f"""
WITH {_SQL_PLAN_BASE},
st AS (SELECT (url_hash)::HUGEINT AS u FROM plan),
st2 AS (SELECT *, ({_stream('u', docspec._S_STATUS)}) % 100 AS r100 FROM st),
ok AS (SELECT u, (1 + ({_stream('u', docspec._S_NDOCS)}) % 4)::BIGINT AS nd
       FROM st2 WHERE r100 < 88),
dj AS (SELECT u, unnest(range(0, nd)) AS j FROM ok),
dk AS (SELECT ({_stream('u', docspec._S_DOCKEY, '256 + j')}) AS d FROM dj),
dd AS (SELECT d, (1 + ({_stream('d', docspec._S_NSPANS)}) % 8)::BIGINT AS nsp FROM dk),
base AS (
  SELECT printf('d%08x%08x', (d >> 32)::BIGINT,
                (d % 4294967296::HUGEINT)::BIGINT) AS doc_id,
         len(list_filter(range(0, nsp), k -> {kind()} < 2)) AS n_text,
         len(list_filter(range(0, nsp), k -> {kind()} >= 2)) AS n_media,
         cast(coalesce(list_sum(list_transform(
             list_filter(range(0, nsp), k -> {kind()} < 2),
             k -> {nwords})), 0) as bigint) AS n_words,
         list_transform(list_filter(range(0, nsp), k -> {kind()} >= 2),
                        k -> substr({media}, 11, 3)) AS ckeys
  FROM dd),
m AS (SELECT doc_id, unnest(ckeys) AS ckey FROM base),
boiler AS (
  SELECT ckey FROM (
    SELECT ckey, count(DISTINCT doc_id) AS ndocs FROM m GROUP BY ckey)
  WHERE ndocs >= {BOILER_MIN_DOCS}),
nb AS (SELECT doc_id, count(*) AS n_media_boiler
       FROM m JOIN boiler USING (ckey) GROUP BY doc_id)
SELECT b.doc_id, n_text, n_media, n_words,
       cast(coalesce(n_media_boiler, 0) as bigint) AS n_media_boiler,
       (n_text >= 1 AND n_words >= {MIN_WORDS}
        AND n_media - cast(coalesce(n_media_boiler, 0) as bigint)
            <= {MAX_REAL_MEDIA}) AS keep
FROM base b LEFT JOIN nb USING (doc_id)
"""


O_INTERLEAVED_FILTER = _build_o_interleaved()


# ------------------------------------------------------ sitemap coverage


def q_sitemap_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Per-host sitemap-vs-crawl coverage audit, BOTH directions:
    sitemap URLs already fetched / still pending, and ORPHAN fetched
    URLs the sitemap does not list (the re-seeding + discovery-gap
    report a crawl operator reads every day). Sitemaps list the even
    event pages (sitemaps are incomplete in real life too); the
    crawled set is every third page — the same synthesis rule family
    as sitemap_ingest, so the two queries cross-check.

    100 TB shape: both sides are url-keyed projections; the full outer
    join shuffles each ONCE on url (or is zero-exchange when both live
    url_hash-bucketed like frontier/seen), and the per-host rollup is
    a map-side partial agg. Reference analog: the coverage checks of
    twkit/curation (uncrawled id sweeps)."""
    e = _t(spark, sf, "events")
    host = F.concat(F.lit("h"), F.pmod(F.col("user_id"), F.lit(20)).cast("string"))
    url = F.concat(
        F.lit("https://"), host, F.lit(".example.com/p/"),
        F.col("event_id").cast("string"),
    )
    lines = e.select(
        host.alias("host"), F.col("event_id"), url.alias("url")
    ).dropDuplicates(["url"])
    sm = lines.where(F.pmod(F.col("event_id"), F.lit(2)) == 0).select(
        "host", "url", F.lit(1).alias("in_sm")
    )
    cr = lines.where(F.pmod(F.col("event_id"), F.lit(3)) == 0).select(
        "host", "url", F.lit(1).alias("in_cr")
    )
    j = sm.join(cr, ["host", "url"], "full")
    return j.groupBy("host").agg(
        F.sum(F.coalesce("in_sm", F.lit(0))).alias("n_sitemap"),
        F.sum(
            F.when(F.col("in_sm").isNotNull() & F.col("in_cr").isNotNull(), 1)
            .otherwise(0)
        ).alias("n_fetched"),
        F.sum(
            F.when(F.col("in_sm").isNotNull() & F.col("in_cr").isNull(), 1)
            .otherwise(0)
        ).alias("n_pending"),
        F.sum(
            F.when(F.col("in_sm").isNull() & F.col("in_cr").isNotNull(), 1)
            .otherwise(0)
        ).alias("n_orphan"),
    ).withColumn(
        "coverage_pct",
        F.round(100.0 * F.col("n_fetched") / F.col("n_sitemap"), 2),
    )


O_SITEMAP_COVERAGE = """
WITH lines AS (
  SELECT DISTINCT ON (url) 'h' || cast(user_id % 20 as varchar) AS host,
         event_id,
         'https://h' || cast(user_id % 20 as varchar) || '.example.com/p/'
           || cast(event_id as varchar) AS url
  FROM events),
sm AS (SELECT host, url FROM lines WHERE event_id % 2 = 0),
cr AS (SELECT host, url FROM lines WHERE event_id % 3 = 0),
j AS (
  SELECT coalesce(sm.host, cr.host) AS host,
         sm.url IS NOT NULL AS in_sm, cr.url IS NOT NULL AS in_cr
  FROM sm FULL OUTER JOIN cr ON sm.host = cr.host AND sm.url = cr.url),
agg AS (
  SELECT host,
         cast(sum(CASE WHEN in_sm THEN 1 ELSE 0 END) as bigint) AS n_sitemap,
         cast(sum(CASE WHEN in_sm AND in_cr THEN 1 ELSE 0 END) as bigint) AS n_fetched,
         cast(sum(CASE WHEN in_sm AND NOT in_cr THEN 1 ELSE 0 END) as bigint) AS n_pending,
         cast(sum(CASE WHEN NOT in_sm AND in_cr THEN 1 ELSE 0 END) as bigint) AS n_orphan
  FROM j GROUP BY host)
SELECT *, round(100.0 * n_fetched / n_sitemap, 2) AS coverage_pct FROM agg
"""


# ------------------------------------------------------- host components

EDGE_MIN_LINKS = 2  # directed host pair must carry >= this many links


def q_host_components(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl-island detection: connected components over the
    host-to-host link graph of one round (edges = directed host pairs
    carrying >= ``EDGE_MIN_LINKS`` links, undirected for the closure).
    Hosts outside every edge are their own singleton component. Reuses
    the alternating large-star/small-star CC operator
    (operators/dedup.py:274) — O(log n) shuffle rounds at any scale.

    100 TB shape: the host graph is the link graph pre-aggregated by
    (src_host, dst_host) — billions of links collapse into millions of
    host pairs BEFORE the iterative part ever runs; the CC rounds then
    operate on the contracted graph only. Reference analog: community
    detection over the follower graph (SURVEY §2's graph tier)."""
    from .operators.dedup import connected_components

    _, plan = _plan(spark, sf)
    links = discover_outlinks_anchored(fetch_results(plan), N_HOSTS)
    src = F.substring("src_host", 2, 10).cast("long")
    dst = F.regexp_extract("url", r"^https://h(\d+)\.", 1).cast("long")
    pairs = (
        links.groupBy(src.alias("a"), dst.alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .where((F.col("n") >= EDGE_MIN_LINKS) & (F.col("a") != F.col("b")))
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
    )
    cc = connected_components(pairs, "u", "v")
    hosts = spark.range(N_HOSTS).select(F.col("id").alias("hn"))
    out = hosts.join(cc, hosts.hn == cc.node, "left").select(
        F.concat(F.lit("h"), F.col("hn").cast("string")).alias("host"),
        F.coalesce("component", F.col("hn")).alias("comp_n"),
    )
    return out.select(
        "host",
        F.concat(F.lit("h"), F.col("comp_n").cast("string")).alias("component"),
        (F.substring("host", 2, 10).cast("long") == F.col("comp_n")).alias(
            "is_root"
        ),
    )


def _build_o_components() -> str:
    n_out = f"(({_stream('u', docspec._S_NOUT)}) % 4)::BIGINT"
    th = f"(({_stream('u', docspec._S_OUTHOST, 'j')}) % {N_HOSTS})::BIGINT"
    return f"""
WITH RECURSIVE {_SQL_PLAN_BASE},
st AS (SELECT host AS src_host, (url_hash)::HUGEINT AS u FROM plan),
st2 AS (SELECT *, ({_stream('u', docspec._S_STATUS)}) % 100 AS r100 FROM st),
ok AS (SELECT src_host, u, {n_out} AS nout FROM st2 WHERE r100 < 88),
lj AS (SELECT src_host, u, unnest(range(0, nout)) AS j FROM ok),
dlinks AS (
  SELECT cast(substring(src_host, 2) as bigint) AS a, {th} AS b FROM lj),
pairs AS (
  SELECT least(a, b) AS u, greatest(a, b) AS v
  FROM (SELECT a, b, count(*) AS n FROM dlinks GROUP BY a, b)
  WHERE n >= {EDGE_MIN_LINKS} AND a <> b
  GROUP BY least(a, b), greatest(a, b)),
und AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM und)
  UNION
  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
comp AS (SELECT u AS node, min(v) AS component FROM reach GROUP BY u),
hosts AS (SELECT unnest(range(0, {N_HOSTS})) AS hn)
SELECT 'h' || cast(hn as varchar) AS host,
       'h' || cast(coalesce(component, hn) as varchar) AS component,
       hn = coalesce(component, hn) AS is_root
FROM hosts LEFT JOIN comp ON comp.node = hn
"""


O_HOST_COMPONENTS = _build_o_components()


# --------------------------------------------------------- url blocklist

BLOCKLIST = ["d3.com", "d7.net", "d10.com", "d5.org", "s2.d5.org"]


def q_url_blocklist(spark: SparkSession, sf: str) -> DataFrame:
    """UT1/RefinedWeb-style domain blocklist admission with dot-suffix
    semantics: an entry 'd3.com' blocks every subdomain of d3.com; the
    LONGEST matching entry wins attribution (so 's2.d5.org' beats
    'd5.org' for that exact subdomain). Candidate hosts are synthesized
    3-label domains over the events table. Output: per blocklist entry
    (or 'allowed'), how many distinct hosts and how many URLs land
    there.

    100 TB shape: hosts are pre-aggregated BEFORE the suffix explode
    (the url->host projection collapses billions of urls to millions of
    hosts), each host fans out to <= label-count suffixes, and the
    blocklist — even UT1's ~3M entries — broadcasts; the longest-match
    pick is a per-host max over <= label-count rows, not a window over
    the corpus. Reference analog: the can_follow admission gate
    (twkit/crawler utils.py:672-692), generalized from an id set to a
    domain-suffix rule set."""
    e = _t(spark, sf, "events")
    host = F.concat(
        F.lit("s"), F.pmod(F.col("user_id"), F.lit(7)).cast("string"),
        F.lit(".d"), F.pmod(F.col("user_id"), F.lit(11)).cast("string"),
        F.lit("."),
        F.element_at(
            F.array(F.lit("com"), F.lit("net"), F.lit("org")),
            (F.pmod(F.col("user_id"), F.lit(3)) + 1).cast("int"),
        ),
    )
    hosts = e.select(host.alias("host")).groupBy("host").agg(
        F.count(F.lit(1)).alias("n_urls")
    )
    labels = F.split(F.col("host"), r"\.")
    sufs = F.array(
        F.array_join(F.slice(labels, 2, 2), "."),  # registered domain
        F.col("host"),  # exact host
    )
    ex = hosts.select("host", "n_urls", F.explode(sufs).alias("suffix"))
    bl = spark.createDataFrame([(s,) for s in BLOCKLIST], "entry string")
    hits = (
        ex.join(F.broadcast(bl), F.col("suffix") == F.col("entry"))
        .groupBy("host")
        .agg(
            F.max(
                F.struct(F.length("entry").alias("l"), F.col("entry").alias("e"))
            ).alias("b")
        )
        .select("host", F.col("b.e").alias("blocked_by"))
    )
    per = hosts.join(hits, "host", "left").select(
        "host", "n_urls", F.coalesce("blocked_by", F.lit("allowed")).alias("blocked_by")
    )
    return per.groupBy("blocked_by").agg(
        F.count(F.lit(1)).alias("n_hosts"),
        F.sum("n_urls").alias("n_urls"),
    )


O_URL_BLOCKLIST = f"""
WITH u AS (
  SELECT 's' || cast(user_id % 7 as varchar)
         || '.d' || cast(user_id % 11 as varchar)
         || '.' || (['com', 'net', 'org'])[(user_id % 3 + 1)::BIGINT] AS host
  FROM events),
hosts AS (SELECT host, count(*) AS n_urls FROM u GROUP BY host),
bl(entry) AS (VALUES {", ".join(f"('{s}')" for s in BLOCKLIST)}),
ex AS (
  SELECT host, n_urls,
         unnest([array_to_string(list_slice(string_split(host, '.'), 2, 3), '.'),
                 host]) AS suffix
  FROM hosts),
hits AS (
  SELECT host, max_by(entry, len(entry)) AS blocked_by
  FROM ex JOIN bl ON suffix = entry GROUP BY host),
per AS (
  SELECT h.host, h.n_urls, coalesce(blocked_by, 'allowed') AS blocked_by
  FROM hosts h LEFT JOIN hits USING (host))
SELECT blocked_by, count(*) AS n_hosts, cast(sum(n_urls) as bigint) AS n_urls
FROM per GROUP BY blocked_by
"""

# ------------------------------------------------------------ OPIC priority

OPIC_CASH_UNITS = 6  # lcm(1,2,3): cash splits stay exact integers
OPIC_TOP_K = 5


def q_opic_priority(spark: SparkSession, sf: str) -> DataFrame:
    """OPIC crawl ordering (Abiteboul/Preda/Cobena, WWW'03 "Adaptive
    On-line Page Importance Computation"): every fetched page's cash
    splits EQUALLY over its outlinks in the round it is crawled; a
    candidate's accumulated cash IS its fetch priority — importance
    emerges incrementally, one pass per round, with none of PageRank's
    iterate-to-convergence (host_graph_rank/frontier_pagerank cover
    that complementary batch view). Cash is kept in integer SIXTHS
    (lcm of the 1-3 outlink fan-outs), so the split is exact and no
    float accumulation order can diverge between engines or partition
    layouts. Output: per target host, the top-``OPIC_TOP_K`` candidate
    urls by (cash DESC, url).

    100 TB shape: one explode of the round's outlinks (Arrow
    fetch-synthesis stage, plan-bounded) -> ONE groupBy(url) with
    map-side partials -> per-host top-k window over candidates already
    collapsed to one row per url. Cash state across rounds lives with
    the frontier row (same SCD2 delta protocol as last_id); this query
    is the one-round update."""
    _, plan = _plan(spark, sf)
    # links feed two branches (fan-out count + contribution join):
    # checkpoint once so the fetch Arrow stages run once, not per branch
    links = discover_outlinks_anchored(
        fetch_results(plan), N_HOSTS
    ).localCheckpoint(eager=False)
    # every fetched source starts the round with OPIC_CASH_UNITS cash;
    # nout per source = how many links it actually emitted
    per_src = links.groupBy("src_hash").agg(F.count(F.lit(1)).alias("nout"))
    contrib = links.join(per_src, "src_hash").select(
        "url",
        (F.lit(OPIC_CASH_UNITS) / F.col("nout")).cast("long").alias("cash"),
    )
    tgt = F.regexp_extract(F.col("url"), r"^https://(h\d+)\.", 1)
    cand = contrib.groupBy("url").agg(
        F.sum("cash").alias("cash_units"),
        F.count(F.lit(1)).alias("n_srcs"),
    ).select(tgt.alias("target_host"), "url", "cash_units", "n_srcs")
    w = Window.partitionBy("target_host").orderBy(
        F.desc("cash_units"), F.asc("url")
    )
    return cand.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= OPIC_TOP_K
    )


def _build_o_opic() -> str:
    n_out = f"(({_stream('u', docspec._S_NOUT)}) % 4)::BIGINT"
    th = f"(({_stream('u', docspec._S_OUTHOST, 'j')}) % {N_HOSTS})::BIGINT"
    oid = f"(({_stream('u', docspec._S_OUTID, 'j')}) % 281474976710656::HUGEINT)::BIGINT"
    link = (
        f"'https://h' || cast({th} as varchar) || '.example.com/o/' || "
        f"cast({oid} as varchar)"
    )
    return f"""
WITH {_SQL_PLAN_BASE},
st AS (SELECT (url_hash)::HUGEINT AS u FROM plan),
st2 AS (SELECT *, ({_stream('u', docspec._S_STATUS)}) % 100 AS r100 FROM st),
ok AS (SELECT u, {n_out} AS nout FROM st2 WHERE r100 < 88),
lj AS (SELECT u, nout, unnest(range(0, nout)) AS j FROM ok),
contrib AS (SELECT {link} AS url, {OPIC_CASH_UNITS} // nout AS cash FROM lj),
cand AS (
  SELECT regexp_extract(url, 'https://(h[0-9]+)', 1) AS target_host, url,
         cast(sum(cash) as bigint) AS cash_units, count(*) AS n_srcs
  FROM contrib GROUP BY url),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY target_host
            ORDER BY cash_units DESC, url ASC) AS rnk
  FROM cand)
SELECT target_host, url, cash_units, n_srcs, rnk FROM rk WHERE rnk <= {OPIC_TOP_K}
"""


O_OPIC_PRIORITY = _build_o_opic()


# ----------------------------------------------------------- mirror hosts

MIRROR_FP_BUCKETS = 500  # content-fingerprint space of the fixture
MIRROR_DF_CAP = 5        # fingerprints on more hosts are boilerplate
MIRROR_MIN_JACCARD = 0.3


def q_mirror_detect(spark: SparkSession, sf: str) -> DataFrame:
    """Mirror-host detection (Bharat & Broder, WWW'99 "Mirror, mirror
    on the Web"): host pairs serving near-identical content sets,
    found WITHOUT any pairwise host comparison — invert the (host,
    content-fingerprint) relation, self-join the fingerprint postings
    (each capped at ``MIRROR_DF_CAP`` hosts: fingerprints on more
    hosts are boilerplate, exactly dedup_containment's df-cap), count
    shared fingerprints per surviving pair, and emit pairs whose
    Jaccard >= ``MIRROR_MIN_JACCARD``. A crawler feeds these back as
    politeness aliases (one budget across mirrors) and dedup hints.

    Fixture: hosts h15-h19 mirror h0-h4 (the fingerprint synthesis
    keys on hn % 15), non-mirrors share nothing — see FIXTURES.md.

    100 TB shape: the explode is per (host, fp) DISTINCT pair — the
    posting lists, not the documents; the df cap bounds the self-join
    fan-out at cap^2 per fingerprint; per-host set sizes are one tiny
    agg broadcast back. Same candidate-then-verify economics as every
    dedup tier here."""
    e = _t(spark, sf, "events")
    hn = F.pmod(F.col("user_id"), F.lit(20))
    fp = F.md5(
        F.concat(
            F.lit("fp:"),
            F.pmod(F.col("event_id"), F.lit(MIRROR_FP_BUCKETS)).cast("string"),
            F.lit(":"),
            F.pmod(hn, F.lit(15)).cast("string"),
        )
    )
    hf = e.select(
        F.concat(F.lit("h"), hn.cast("string")).alias("host"), fp.alias("fp")
    ).dropDuplicates(["host", "fp"])
    sizes = hf.groupBy("host").agg(F.count(F.lit(1)).alias("n_fps"))
    postings = hf.join(
        hf.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).where(
            F.col("df") <= MIRROR_DF_CAP
        ),
        "fp",
    )
    a = postings.select(F.col("fp"), F.col("host").alias("host_a"))
    b = postings.select(F.col("fp"), F.col("host").alias("host_b"))
    shared = (
        a.join(b, "fp")
        .where(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("host").alias("host_a"), F.col("n_fps").alias("n_a"))
    sb = sizes.select(F.col("host").alias("host_b"), F.col("n_fps").alias("n_b"))
    out = (
        shared.join(F.broadcast(sa), "host_a")
        .join(F.broadcast(sb), "host_b")
        .withColumn(
            "jaccard_r",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                4,
            ),
        )
        .where(F.col("jaccard_r") >= MIRROR_MIN_JACCARD)
    )
    return out.select("host_a", "host_b", "n_shared", "n_a", "n_b", "jaccard_r")


O_MIRROR_DETECT = f"""
WITH hf AS (
  SELECT DISTINCT 'h' || cast(user_id % 20 as varchar) AS host,
         md5('fp:' || cast(event_id % {MIRROR_FP_BUCKETS} as varchar)
             || ':' || cast(user_id % 20 % 15 as varchar)) AS fp
  FROM events),
sizes AS (SELECT host, count(*) AS n_fps FROM hf GROUP BY host),
keep AS (SELECT fp FROM hf GROUP BY fp HAVING count(*) <= {MIRROR_DF_CAP}),
p AS (SELECT host, hf.fp FROM hf JOIN keep ON hf.fp = keep.fp),
shared AS (
  SELECT a.host AS host_a, b.host AS host_b, count(*) AS n_shared
  FROM p a JOIN p b ON a.fp = b.fp AND a.host < b.host
  GROUP BY a.host, b.host),
j AS (
  SELECT host_a, host_b, n_shared, sa.n_fps AS n_a, sb.n_fps AS n_b,
         round(n_shared * 1.0 / (sa.n_fps + sb.n_fps - n_shared), 4) AS jaccard_r
  FROM shared
  JOIN sizes sa ON sa.host = host_a
  JOIN sizes sb ON sb.host = host_b)
SELECT * FROM j WHERE jaccard_r >= {MIRROR_MIN_JACCARD}
"""


# ------------------------------------------------ span-level exact dedup

DUP_SPAN_MAX_FRAC = 0.5  # keep rule: <= 50% of a doc's text spans duplicated


def q_span_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Span-level exact dedup over the round's INTERLEAVED documents —
    the north-rule payload's own curation pass: every text span is
    fingerprinted by its content; a span whose content occurs >= 2
    times corpus-wide is duplicated boilerplate, and exactly ONE
    occurrence (the (doc_id, pos)-minimal one) is kept canonical. Per
    doc: text-span count, duplicated-span count, canonical-ownership
    count, drop count, duplicated fraction, and the keep rule
    (dup_frac <= 0.5). This is line_dedup's shape lifted onto the
    interleaved span table — the media spans pass through untouched
    (their dedup is media_phash_dedup's byte-level job).

    100 TB shape: text spans posexplode map-side out of the span
    arrays; ONE hash exchange on span content serves BOTH the
    occurrence count and the canonical-owner ranking (two window
    functions over the same partitioning — Spark plans a single
    shuffle); the per-doc rollup is the second, smaller exchange.
    Nothing is broadcast or collected — the duplicated-span set at web
    scale is itself web-scale.
    Reference analog: tweet-text dedup on the unique index
    (twkit/crawler/dumpall.py:61-81) applied at sub-document grain.
    The oracle recovers per-span text by splitting crawl_round_docs'
    ' | '-joined text_all — exact because span text never contains
    '|' (vocab words are bare lowercase tokens)."""
    _, plan = _plan(spark, sf)
    docs = fetch_documents(plan, ROUND_NO).dropDuplicates(["doc_id"])
    texts = F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("text"))
    e = docs.select(
        "doc_id",
        F.posexplode(F.transform(texts, lambda s: s["text"])).alias(
            "pos", "span_text"
        ),
    )
    w = Window.partitionBy("span_text")
    wo = w.orderBy(F.asc("doc_id"), F.asc("pos"))
    r = e.withColumn("n_occ", F.count(F.lit(1)).over(w)).withColumn(
        "rn", F.row_number().over(wo)
    )
    per = r.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_text_spans"),
        F.sum(F.when(F.col("n_occ") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_spans"),
        F.sum(F.when((F.col("n_occ") >= 2) & (F.col("rn") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n_canonical"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).cast("bigint").alias("n_drop"),
    )
    return per.select(
        "*",
        (F.col("n_dup_spans") / F.col("n_text_spans")).alias("dup_frac"),
        (
            (F.col("n_dup_spans") / F.col("n_text_spans"))
            <= F.lit(DUP_SPAN_MAX_FRAC)
        ).alias("keep"),
    )


O_SPAN_DEDUP = f"""
WITH docs AS ({O_CRAWL_ROUND_DOCS}),
e0 AS (
  SELECT doc_id, string_split(text_all, ' | ') AS sp FROM docs
  WHERE text_all <> ''),
e1 AS (SELECT doc_id, sp, unnest(range(1, len(sp) + 1)) AS i FROM e0),
e AS (SELECT doc_id, cast(i - 1 as int) AS pos, sp[i] AS span_text FROM e1),
r AS (
  SELECT *,
         count(*) OVER (PARTITION BY span_text) AS n_occ,
         row_number() OVER (PARTITION BY span_text
                            ORDER BY doc_id ASC, pos ASC) AS rn
  FROM e),
per AS (
  SELECT doc_id,
         cast(count(*) as bigint) AS n_text_spans,
         cast(sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) as bigint)
           AS n_dup_spans,
         cast(sum(CASE WHEN n_occ >= 2 AND rn = 1 THEN 1 ELSE 0 END) as bigint)
           AS n_canonical,
         cast(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) as bigint) AS n_drop
  FROM r GROUP BY doc_id)
SELECT doc_id, n_text_spans, n_dup_spans, n_canonical, n_drop,
       n_dup_spans / n_text_spans AS dup_frac,
       (n_dup_spans / n_text_spans) <= {DUP_SPAN_MAX_FRAC} AS keep
FROM per
"""


# --------------------------------------------- frontier shard balance

N_SHARD_BUCKETS = 64


def q_frontier_shard_balance(spark: SparkSession, sf: str) -> DataFrame:
    """Shard-balance audit of a hash-sharded frontier: splitting the
    frontier into B shards by pmod(url_hash, B) (hash partitions,
    per-fetcher work splits) assumes the split is uniform — a skewed
    bucket turns its shard into a straggler. This query measures it:
    per-bucket URL count, distinct-host count, share of total, and
    load factor vs the uniform expectation (the same index-health
    shape as ivf_balance, over the frontier's buckets instead of IVF
    cells).

    100 TB shape: one map-side projection (hash + pmod are column
    expressions) into a B-row aggregate — the audit costs one partial-
    agg exchange regardless of frontier size; the load-factor window
    runs over the B-row result only. Reference analog: twAwler's
    per-crawler work-split sanity checks (twkit/crawler/crawl.py round
    accounting), generalized to hash shards of the frontier."""
    e = _t(spark, sf, "events")
    uid = F.col("user_id")
    # bucket/host derive BEFORE the dedup, so one (bucket, host) exchange
    # with map-side partial-distinct replaces distinct()+countDistinct's
    # two full-size shuffles (a user maps to exactly one pair, so
    # sum-of-pair-distincts == per-bucket distinct)
    keyed = e.select(
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("u:"), uid.cast("string"))), 1, 15
                ),
                16,
                10,
            ).cast("long"),
            F.lit(N_SHARD_BUCKETS),
        )
        .cast("int")
        .alias("bucket"),
        F.pmod(uid, F.lit(N_HOSTS)).cast("int").alias("host_id"),
        uid,
    )
    pairs = keyed.groupBy("bucket", "host_id").agg(
        F.countDistinct("user_id").alias("n_part")
    )
    per = pairs.groupBy("bucket").agg(
        F.sum("n_part").cast("bigint").alias("n_urls"),
        F.count(F.lit(1)).cast("bigint").alias("n_hosts"),
    )
    tot = Window.partitionBy()
    return per.select(
        "bucket",
        "n_urls",
        "n_hosts",
        F.round(100.0 * F.col("n_urls") / F.sum("n_urls").over(tot), 3).alias(
            "share_pct"
        ),
        F.round(
            F.col("n_urls")
            * F.lit(float(N_SHARD_BUCKETS))
            / F.sum("n_urls").over(tot),
            4,
        ).alias("load_factor"),
    )


O_FRONTIER_SHARD_BALANCE = f"""
WITH f AS (
  SELECT DISTINCT user_id FROM events),
h AS (
  SELECT ('0x' || substring(md5('u:' || cast(user_id as varchar)), 1, 15))::BIGINT
           AS url_hash,
         user_id % {N_HOSTS} AS host_id
  FROM f),
per AS (
  SELECT cast(url_hash % {N_SHARD_BUCKETS} as int) AS bucket,
         cast(count(*) as bigint) AS n_urls,
         cast(count(DISTINCT host_id) as bigint) AS n_hosts
  FROM h GROUP BY 1)
SELECT bucket, n_urls, n_hosts,
       round(100.0 * n_urls / sum(n_urls) OVER (), 3) AS share_pct,
       round(n_urls * {float(N_SHARD_BUCKETS)} / sum(n_urls) OVER (), 4)
         AS load_factor
FROM per
"""


# ------------------------------------------- fetcher slot assignment

HRW_SLOTS = 16  # fetcher fleet size N; churn is measured at N -> N+1


def q_fetcher_assignment(spark: SparkSession, sf: str) -> DataFrame:
    """Crawler work assignment: how hosts shard across a fetcher fleet,
    comparing naive mod-hashing with rendezvous/HRW hashing (highest
    random weight, Thaler & Ravishankar '96 — the consistent-hashing
    family used for cache/crawler sharding). For each scheme, slot
    balance at N=16 slots and CHURN when the fleet grows to N+1:
    HRW moves only ~1/(N+1) of hosts (each strictly INTO the new slot),
    mod-hashing reshuffles ~N/(N+1) of them — the difference between a
    politeness-state-preserving fleet resize and a full re-warm of
    every per-host queue.

    100 TB shape: the slot axis is a tiny literal dimension (N+1 rows)
    broadcast against the host set — the cross join is |hosts| x (N+1)
    map-side, the per-host argmax is one partial-agg exchange on host,
    and the final rollup is 2 rows. No global sort, no driver loop.
    Reference analog: twAwler splits tracked users across crawler
    processes by id range (twkit/crawler/crawl.py multi-account
    round-robin); HRW is the scale generalization that survives
    elastic fleets."""
    e = _t(spark, sf, "events")
    hosts = e.select(F.col("user_id").alias("host_id")).distinct()
    slots = spark.range(HRW_SLOTS + 1).select(F.col("id").cast("int").alias("slot"))
    w = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("a:"),
                    F.col("host_id").cast("string"),
                    F.lit(":"),
                    F.col("slot").cast("string"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    weighted = hosts.crossJoin(F.broadcast(slots)).select(
        "host_id", "slot", w.alias("w")
    )
    hrw = weighted.groupBy("host_id").agg(
        F.max_by("slot", F.when(F.col("slot") < HRW_SLOTS, F.col("w"))).alias(
            "s16"
        ),
        F.max_by("slot", "w").alias("s17"),
    )
    mod = hosts.select(
        "host_id",
        F.pmod(F.col("host_id"), F.lit(HRW_SLOTS)).cast("int").alias("s16"),
        F.pmod(F.col("host_id"), F.lit(HRW_SLOTS + 1)).cast("int").alias("s17"),
    )
    both = hrw.select(F.lit("hrw").alias("scheme"), "host_id", "s16", "s17").unionByName(
        mod.select(F.lit("mod").alias("scheme"), "host_id", "s16", "s17")
    )
    loads = (
        both.groupBy("scheme", "s16")
        .agg(F.count(F.lit(1)).alias("slot_n"))
        .groupBy("scheme")
        .agg(
            F.max("slot_n").cast("bigint").alias("max_load16"),
            F.min("slot_n").cast("bigint").alias("min_load16"),
        )
    )
    churn = both.groupBy("scheme").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hosts"),
        F.sum(F.when(F.col("s16") != F.col("s17"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_moved"),
    )
    return (
        churn.join(loads, "scheme")
        .select(
            "scheme",
            "n_hosts",
            "n_moved",
            F.round(100.0 * F.col("n_moved") / F.col("n_hosts"), 2).alias(
                "moved_pct"
            ),
            "max_load16",
            "min_load16",
        )
    )


O_FETCHER_ASSIGNMENT = f"""
WITH hosts AS (
  SELECT DISTINCT user_id AS host_id FROM events),
slots AS (SELECT unnest(range(0, {HRW_SLOTS + 1})) AS slot),
weighted AS (
  SELECT host_id, cast(slot as int) AS slot,
         ('0x' || substring(md5('a:' || cast(host_id as varchar) || ':'
            || cast(slot as varchar)), 1, 12))::BIGINT AS w
  FROM hosts CROSS JOIN slots),
hrw AS (
  SELECT host_id,
         arg_max(slot, CASE WHEN slot < {HRW_SLOTS} THEN w END) AS s16,
         arg_max(slot, w) AS s17
  FROM weighted GROUP BY host_id),
modsch AS (
  SELECT host_id, cast(host_id % {HRW_SLOTS} as int) AS s16,
         cast(host_id % {HRW_SLOTS + 1} as int) AS s17
  FROM hosts),
uni AS (
  SELECT 'hrw' AS scheme, * FROM hrw
  UNION ALL SELECT 'mod' AS scheme, * FROM modsch),
loads AS (
  SELECT scheme, cast(max(slot_n) as bigint) AS max_load16,
         cast(min(slot_n) as bigint) AS min_load16
  FROM (SELECT scheme, s16, count(*) AS slot_n FROM uni GROUP BY 1, 2)
  GROUP BY scheme),
churn AS (
  SELECT scheme, cast(count(*) as bigint) AS n_hosts,
         cast(sum(CASE WHEN s16 != s17 THEN 1 ELSE 0 END) as bigint)
           AS n_moved
  FROM uni GROUP BY scheme)
SELECT c.scheme, c.n_hosts, c.n_moved,
       round(100.0 * c.n_moved / c.n_hosts, 2) AS moved_pct,
       l.max_load16, l.min_load16
FROM churn c JOIN loads l ON c.scheme = l.scheme
"""


# ------------------------------------------------------ redirect resolve

REDIRECT_MAX_HOPS = 64  # chains longer than this are fetch-rejects


def q_redirect_resolve(spark: SparkSession, sf: str) -> DataFrame:
    """Redirect-chain resolution over a 301/302 successor map: every
    URL resolves to its canonical terminal target with the EXACT hop
    count, URLs on (or feeding into) redirect cycles — and chains past
    ``REDIRECT_MAX_HOPS`` — come back as status 'loop' (both are
    fetch-reject states; browsers cap at ~20 redirects for the same
    reason). The engine path is operators/graph.resolve_chains —
    POINTER DOUBLING, so a 10^10-row redirect map resolves in
    ~log2(max_hops) hash-join rounds instead of a per-hop walk; the
    oracle is the naive recursive-CTE walk of the same map.

    Fixture (test-only synthesis; the operator consumes any (src, dst)
    map): nodes are rank positions of the distinct event users; each
    node flips an md5 coin (p=1/4 terminal) else redirects to the next
    rank, giving geometric chains with mean length 4; three extra nodes
    past the top rank form an injected 3-cycle so the loop path is
    exercised. The global row_number is fixture-only — production maps
    arrive keyed by url_hash.

    Reference analog: twkit/curation/checkurls.py chases each
    shortened/redirected link hop-by-hop per Mongo row; this is that
    sweep as a set operation."""
    from .operators.graph import resolve_chains
    from .operators.ranks import with_global_rank

    e = _t(spark, sf, "events")
    # range-partitioned exact row numbers (operators/ranks.py) — the
    # fixture's rank synthesis no longer funnels the distinct users
    # through a single-partition window
    # checkpointed: the tiny ranked node list fans out to mx / fin, and
    # the rank pass itself reads its input twice — without the cut the
    # 1M-row scan + distinct would re-run per consumer (guide §2.4)
    nodes = with_global_rank(
        e.select("user_id").distinct(), [("user_id", True)], "rid",
        method="row_number",
        bucket=F.expr("user_id DIV 8192"),
    ).select("rid").localCheckpoint(eager=False)
    mx = nodes.agg(F.max("rid").alias("m"))
    coin = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("rd:"), F.col("rid").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % 4
        == 0
    )
    fin = nodes.crossJoin(F.broadcast(mx)).select(
        "rid", (coin | (F.col("rid") == F.col("m"))).alias("is_final")
    )
    chain = fin.where(~F.col("is_final")).select(
        F.col("rid").alias("src"), (F.col("rid") + 1).alias("dst")
    )
    loops = mx.select(
        F.explode(
            F.array(
                F.struct(
                    (F.col("m") + 1).alias("src"), (F.col("m") + 2).alias("dst")
                ),
                F.struct(
                    (F.col("m") + 2).alias("src"), (F.col("m") + 3).alias("dst")
                ),
                F.struct(
                    (F.col("m") + 3).alias("src"), (F.col("m") + 1).alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    edges = chain.unionByName(loops)
    return resolve_chains(edges, REDIRECT_MAX_HOPS).select(
        F.col("node").alias("url_id"),
        F.col("final").alias("final_id"),
        "hops",
        "status",
    )


O_REDIRECT_RESOLVE = f"""
WITH RECURSIVE
u AS (SELECT DISTINCT user_id FROM events),
nodes AS (SELECT cast(row_number() OVER (ORDER BY user_id) as bigint) AS rid FROM u),
mx AS (SELECT max(rid) AS m FROM nodes),
fin AS (
  SELECT rid,
         ((('0x' || substring(md5('rd:' || cast(rid as varchar)), 1, 15))::BIGINT
            % 4 = 0)
          OR rid = (SELECT m FROM mx)) AS is_final
  FROM nodes),
edges AS (
  SELECT rid AS src, rid + 1 AS dst FROM fin WHERE NOT is_final
  UNION ALL SELECT m + 1, m + 2 FROM mx
  UNION ALL SELECT m + 2, m + 3 FROM mx
  UNION ALL SELECT m + 3, m + 1 FROM mx),
alln AS (SELECT DISTINCT node FROM (
  SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges) t),
terminals AS (
  SELECT node FROM alln WHERE node NOT IN (SELECT src FROM edges)),
walk(node, cur, hops) AS (
  SELECT src, dst, 1::BIGINT FROM edges
  UNION ALL
  SELECT w.node, e.dst, w.hops + 1 FROM walk w JOIN edges e ON e.src = w.cur
  WHERE w.hops < {REDIRECT_MAX_HOPS}),
res AS (
  SELECT w.node, w.cur AS final, w.hops FROM walk w
  WHERE w.cur IN (SELECT node FROM terminals))
SELECT node AS url_id, final AS final_id, hops, 'resolved' AS status FROM res
UNION ALL
SELECT node, node, 0::BIGINT, 'resolved' FROM terminals
UNION ALL
SELECT node, NULL::BIGINT, NULL::BIGINT, 'loop' FROM alln
WHERE node NOT IN (SELECT node FROM res)
  AND node NOT IN (SELECT node FROM terminals)
"""


# -------------------------------------------------------- heavy hitters

HH_BUCKETS = 64    # prefilter hash buckets (literal; sized to memory)
HH_THRESH = 50     # heavy <=> n_hits * HH_THRESH > total hits
HH_ZIPF_N = 10000  # fixture skew parameter


def q_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Hot-URL detection over an unbounded key space: every URL whose
    hit count exceeds total/{thresh} of the fetch log, found WITHOUT
    shuffling the full distinct-URL key set. Two passes:

      1. bucket prefilter — hash each URL into ``HH_BUCKETS`` literal
         buckets and count buckets (after map-side combine the shuffle
         carries <= HH_BUCKETS rows per map task, regardless of URL
         cardinality); a bucket containing a heavy URL is itself heavy
         (bucket count >= member count), so heavy buckets are a
         provable SUPERSET of heavy URLs;
      2. exact recount — re-scan with the tiny heavy-bucket set
         broadcast, group only the surviving URLs, keep exact
         count * THRESH > total.

    False-positive buckets cost only recount work, never correctness —
    which is why the DuckDB oracle is the NAIVE exact GROUP BY/HAVING:
    the bucketed plan must equal it bit-for-bit. 100 TB shape: the
    naive plan shuffles one row per distinct URL (10^12-cardinality);
    this plan's first exchange is bounded by buckets x map tasks and
    its second by URLs inside heavy buckets (expected non-heavy mass
    per bucket = total/HH_BUCKETS). The same two-pass shape serves
    hot-host politeness alarms and heavy n-gram mining. Reference
    analog: twkit/analytics/freq.py's hot-key counting, re-keyed by
    URL at web cardinality.

    Fixture skew (test-only): page = floor(N / (1 + event_id % N)) —
    the reciprocal transform of a uniform draw, giving a Zipf-like law
    where page p takes ~N/(p(p+1)) hits; ~2*sqrt(N) distinct pages,
    ~6 heavy ones at THRESH=50."""
    e = _t(spark, sf, "events")
    page = F.floor(
        F.lit(float(HH_ZIPF_N)) / (F.pmod(F.col("event_id"), F.lit(HH_ZIPF_N)) + 1)
    ).cast("long")
    url = F.concat(
        F.lit("https://h"),
        F.pmod(page, F.lit(20)).cast("string"),
        F.lit(".example.com/p/"),
        page.cast("string"),
    )
    hits = e.select(url.alias("url"))
    bucket = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("hh:"), F.col("url"))), 1, 15), 16, 10
        ).cast("long"),
        F.lit(HH_BUCKETS),
    )
    # one bucket-count pass serves both the total (sum of bucket counts
    # — every hit lands in exactly one bucket) and the heavy-bucket
    # prefilter: pass 1 scans the synthesized URLs once, not twice (the
    # tiny bucket table's exchange is reused by its two consumers)
    bc = hits.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("bc")
    )
    tot = bc.agg(F.sum("bc").alias("total"))
    heavy_buckets = (
        bc.crossJoin(tot)
        .where(F.col("bc") * HH_THRESH > F.col("total"))
        .select("bucket")
    )
    return (
        hits.withColumn("bucket", bucket)
        .join(F.broadcast(heavy_buckets), "bucket")
        .groupBy("url")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .crossJoin(F.broadcast(tot))
        .where(F.col("n_hits") * HH_THRESH > F.col("total"))
        .select(
            "url",
            F.col("n_hits").cast("long").alias("n_hits"),
            F.round(100.0 * F.col("n_hits") / F.col("total"), 4).alias(
                "share_pct"
            ),
        )
    )


O_HEAVY_HITTERS = f"""
WITH hits AS (
  SELECT 'https://h'
         || cast(cast(floor({HH_ZIPF_N}.0 / (1 + event_id % {HH_ZIPF_N}))
                 as bigint) % 20 as varchar)
         || '.example.com/p/'
         || cast(cast(floor({HH_ZIPF_N}.0 / (1 + event_id % {HH_ZIPF_N}))
                 as bigint) as varchar) AS url
  FROM events),
tot AS (SELECT count(*) AS total FROM hits)
SELECT url, cast(count(*) as bigint) AS n_hits,
       round(100.0 * count(*) / (SELECT total FROM tot), 4) AS share_pct
FROM hits GROUP BY url
HAVING count(*) * {HH_THRESH} > (SELECT total FROM tot)
"""


# ------------------------------------------------------- soft-404 pages

SOFT404_EVERY = 7        # fixture: every 7th doc serves its host's error page
SOFT404_BENIGN = 17      # every 17th-ish doc repeats a benign welcome page
SOFT404_MIN_SHARE = 0.10  # a fingerprint covering >= 10% of a host is suspect


def q_soft404_detect(spark: SparkSession, sf: str) -> DataFrame:
    """Soft-404 / error-template detection: hosts that answer missing
    pages with HTTP 200 and a templated body poison a crawl (every
    dead link 'succeeds' and the corpus fills with error pages). The
    batch signal (the set analog of Bar-Yossef et al., WWW'04 'Sic
    transit gloria telae', which probes random URLs per host): within
    each host, content-fingerprint groups whose share of the host's
    fetched documents exceeds ``SOFT404_MIN_SHARE`` — no real host
    serves the same byte-identical body for 10% of its distinct URLs
    unless it is a template/error page. Distinct from mirror_detect
    (cross-host content overlap) and boilerplate_strip (line-level
    templates WITHIN otherwise-distinct pages): this flags whole-body
    repeats on ONE host. Output: every repeated (host, fingerprint)
    group with its share and the suspect verdict.

    100 TB shape: ONE (host, fp) exchange with map-side combine (the
    fingerprint collapses each body to 32 bytes before any shuffle),
    then the host-share window runs over the already-aggregated group
    rows — never the documents; no broadcast of the host dimension is
    ever needed. Fixture: every ``SOFT404_EVERY``-th doc's body is
    replaced by its host's error template (~14% share > threshold) and
    every remaining ``SOFT404_BENIGN``-th doc by a benign repeated
    welcome page (~6% share — a repeat group that must come back
    suspect=false, so both verdict branches are exercised)."""
    d = _t(spark, sf, "documents")
    host = F.pmod(F.col("doc_id"), F.lit(20))
    body = F.when(
        F.pmod(F.col("doc_id"), F.lit(SOFT404_EVERY)) == 0,
        F.concat(F.lit("error 404 not found h"), host.cast("string")),
    ).when(
        F.pmod(F.col("doc_id"), F.lit(SOFT404_BENIGN)) == 1,
        F.concat(F.lit("welcome to host h"), host.cast("string")),
    ).otherwise(F.col("text"))
    g = (
        d.select(host.alias("host"), F.md5(F.lower(F.trim(body))).alias("fp"))
        .groupBy("host", "fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.partitionBy("host")
    share = F.col("n_docs") / F.col("host_docs")
    return (
        g.withColumn("host_docs", F.sum("n_docs").over(w))
        .where(F.col("n_docs") >= 2)
        .select(
            "host",
            "fp",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("host_docs").cast("long").alias("host_docs"),
            F.round(100.0 * share, 4).alias("share_pct"),
            (share >= SOFT404_MIN_SHARE).alias("soft404_suspect"),
        )
    )


O_SOFT404_DETECT = f"""
WITH d AS (
  SELECT doc_id % 20 AS host,
         md5(lower(trim(CASE WHEN doc_id % {SOFT404_EVERY} = 0
              THEN 'error 404 not found h' || cast(doc_id % 20 as varchar)
              WHEN doc_id % {SOFT404_BENIGN} = 1
              THEN 'welcome to host h' || cast(doc_id % 20 as varchar)
              ELSE text END))) AS fp
  FROM documents),
g AS (SELECT host, fp, cast(count(*) as bigint) AS n_docs FROM d GROUP BY 1, 2),
shared AS (
  SELECT host, fp, n_docs,
         cast(sum(n_docs) OVER (PARTITION BY host) as bigint) AS host_docs
  FROM g)
SELECT host, fp, n_docs, host_docs,
       round(100.0 * n_docs / host_docs, 4) AS share_pct,
       n_docs * 1.0 / host_docs >= {SOFT404_MIN_SHARE} AS soft404_suspect
FROM shared WHERE n_docs >= 2
"""


# ------------------------------------------------ round-5j: k-core peeling

KCORE_K = 4          # core threshold: survive with degree >= K
KCORE_HUBS = 24      # planted circulant hub ring (the surviving core)
KCORE_PERIPHERY = 192  # sparse random periphery (peels away in cascade)
KCORE_ROUNDS = 12    # oracle unroll depth; fixture converges in <= 5


def q_kcore_hosts(spark: SparkSession, sf: str) -> DataFrame:
    """Host-graph k-core extraction (Seidman 1983): the maximal
    subgraph where every host keeps >= KCORE_K link partners after
    everything sparser is iteratively peeled away. Crawl use: link
    farms and mutual-promotion rings live in deep cores (their whole
    point is reciprocal density), while legitimate long-tail hosts
    fall out in the first peel rounds — the core membership list is a
    spam-review queue and a budget-shaping input next to
    host_graph_rank (rank says "important", core says "densely
    self-referential"). Reference analog: the follower-graph community
    tiers of SURVEY §2's graph family, re-keyed host-to-host.

    Fixture: hub docs (doc_id % 3 = 0) emit a circulant ring over
    KCORE_HUBS hub nodes (offset 1 + doc_id % 7 — degree far above
    KCORE_K, survives), the rest emit md5-random periphery edges over
    KCORE_PERIPHERY nodes (mean degree < KCORE_K at oracle scale —
    peels to empty through a 4-5 round cascade, so the fixpoint loop
    is genuinely exercised; at sf0.1 the periphery is dense enough to
    survive, exercising the single-round converged path instead).

    100 TB shape: see operators/graph.k_core — one degree aggregation
    + two node-key semi-joins per round over a monotonically shrinking
    checkpointed edge set; no per-node adjacency materialization. The
    DuckDB oracle is the same peel unrolled KCORE_ROUNDS times as
    chained CTEs (recursive CTEs allow only one self-reference, which
    a degree test on both endpoints needs twice), proving the Spark
    fixpoint equals the closed-form peel."""
    from .operators.graph import k_core

    d = _t(spark, sf, "documents")
    is_hub = F.col("doc_id") % 3 == 0
    h = F.md5(F.col("doc_id").cast("string"))
    u = F.when(
        is_hub, F.lit(200) + F.expr("doc_id div 3") % KCORE_HUBS
    ).otherwise(
        F.pmod(
            F.conv(F.substring(h, 1, 12), 16, 10).cast("long"),
            F.lit(KCORE_PERIPHERY),
        )
    )
    v = F.when(
        is_hub,
        F.lit(200) + (F.expr("doc_id div 3") + 1 + F.col("doc_id") % 7) % KCORE_HUBS,
    ).otherwise(
        F.pmod(
            F.conv(F.substring(h, 17, 12), 16, 10).cast("long"),
            F.lit(KCORE_PERIPHERY),
        )
    )
    edges = (
        d.select(u.cast("long").alias("a"), v.cast("long").alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
    )
    return k_core(edges, KCORE_K, max_rounds=KCORE_ROUNDS)


def _build_o_kcore() -> str:
    hub_u = f"200 + ((doc_id // 3) % {KCORE_HUBS})"
    hub_v = f"200 + ((doc_id // 3 + 1 + doc_id % 7) % {KCORE_HUBS})"
    per = "('0x' || substring(md5(cast(doc_id as varchar)), {o}, 12))::BIGINT"
    parts = [
        f"""raw AS MATERIALIZED (
  SELECT CASE WHEN doc_id % 3 = 0 THEN {hub_u}
         ELSE {per.format(o=1)} % {KCORE_PERIPHERY} END AS a,
         CASE WHEN doc_id % 3 = 0 THEN {hub_v}
         ELSE {per.format(o=17)} % {KCORE_PERIPHERY} END AS b
  FROM documents),
e AS MATERIALIZED (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
      FROM raw WHERE a <> b),
s0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e)"""
    ]
    for i in range(KCORE_ROUNDS):
        parts.append(
            f"""s{i + 1} AS MATERIALIZED (
  SELECT src, dst FROM s{i}
  WHERE src IN (SELECT src FROM s{i} GROUP BY src HAVING count(*) >= {KCORE_K})
    AND dst IN (SELECT src FROM s{i} GROUP BY src HAVING count(*) >= {KCORE_K}))"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT src AS node, cast(count(*) as bigint) AS degree"
        f"\nFROM s{KCORE_ROUNDS} GROUP BY src"
    )


O_KCORE_HOSTS = _build_o_kcore()


# -------------------------------- round-5j: adaptive per-host fetch timeouts

LAT_HOSTS = 25          # fetcher-pool host shards
LAT_TIMEOUT_CAP = 2000.0  # ms; politeness ceiling on the adaptive timeout
LAT_TIMEOUT_FACTOR = 1.5  # timeout = factor * p99
LAT_JITTER_MOD = 9973    # md5-derived sub-cent jitter: (h % MOD) / 1e7 ms


def q_host_latency_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-host fetch-latency percentiles -> adaptive timeout. A
    production fetcher sets its per-host connect/read timeout from
    observed latency, not a global constant: a slow-but-honest host
    with p99=800ms needs a generous timeout, while a fast host with a
    800ms straggler is showing server distress. The rule shipped here
    is the standard one: timeout = min(CAP, FACTOR * p99), alongside
    p50/p95/p99 and the sample count (the reference keeps per-endpoint
    rate/latency state in its crawler loop; this is that state rebuilt
    as a batch aggregate over the fetch log).

    The fixture's raw latencies are 2-decimal-granular, so linearly
    interpolated percentiles (and 1.5x products of them) land exactly
    on round(.,4) half-boundaries, where Spark's HALF_UP, DuckDB's,
    and Python's double rounding legitimately disagree in the last
    digit. Fix at the source: a deterministic md5(event_id)-derived
    sub-cent jitter ((h % LAT_JITTER_MOD) / 1e7 ms, identically
    computable in all three engines) breaks the value grid so no
    interpolated quantile sits on a boundary, and the timeout is
    derived from the RAW p99 (not the pre-rounded column) so the
    product never re-introduces a {0,5} fifth decimal.

    100 TB shape: exact `percentile` is a buffering aggregate — safe
    here BY CONSTRUCTION because the politeness budget bounds fetches
    per host per round (the group size is capped by the same config
    that caps the fetch plan), so per-group state is bounded and the
    plan is one partial-aggregated exchange on the host key. For
    unbounded groups (per-URL latency over a year) the drop-in is
    approx_percentile's fixed-size sketch at some accuracy — the
    pytest twin asserts the sketch lands within tolerance of exact on
    this fixture, documenting that path."""
    e = _t(spark, sf, "events")
    jitter = (
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("event_id").cast("string")), 1, 12), 16, 10
            ).cast("long"),
            F.lit(LAT_JITTER_MOD),
        )
        / F.lit(1e7)
    )
    return (
        e.select(
            F.pmod(F.col("user_id"), F.lit(LAT_HOSTS)).alias("host"),
            (F.col("value") + jitter).alias("lat"),
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_samples"),
            F.round(F.expr("percentile(lat, 0.5)"), 4).alias("p50_ms"),
            F.round(F.expr("percentile(lat, 0.95)"), 4).alias("p95_ms"),
            F.round(F.expr("percentile(lat, 0.99)"), 4).alias("p99_ms"),
            F.round(
                F.least(
                    F.lit(LAT_TIMEOUT_CAP),
                    F.lit(LAT_TIMEOUT_FACTOR) * F.expr("percentile(lat, 0.99)"),
                ),
                4,
            ).alias("timeout_ms"),
        )
    )


O_HOST_LATENCY_QUANTILES = f"""
WITH j AS (
  SELECT user_id % {LAT_HOSTS} AS host,
         value + (('0x' || substring(md5(cast(event_id as varchar)), 1, 12))::BIGINT
                  % {LAT_JITTER_MOD}) / 1e7 AS lat
  FROM events)
SELECT host,
       cast(count(*) as bigint) AS n_samples,
       round(quantile_cont(lat, 0.5), 4) AS p50_ms,
       round(quantile_cont(lat, 0.95), 4) AS p95_ms,
       round(quantile_cont(lat, 0.99), 4) AS p99_ms,
       round(least({LAT_TIMEOUT_CAP},
                   {LAT_TIMEOUT_FACTOR} * quantile_cont(lat, 0.99)), 4)
         AS timeout_ms
FROM j GROUP BY 1
"""


# ------------------------------ round-5j: TLD / content-language mismatch

TLD_HOSTS = 40  # host shards; tld assigned round-robin gr/com/de
TLD_MISROUTE_SHARE = 0.5  # flag hosts where most content contradicts the TLD


def q_tld_lang_mismatch(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl-quality audit: hosts whose detected content language
    contradicts their TLD prior. A geo-targeted crawl (the reference
    crawls the Greek twittersphere — its seed heuristics assume .gr
    hosts carry Greek) needs to know when that prior fails: parked
    domains, geo-routed CDNs, and spam squatting on country TLDs all
    show up as hosts where most documents' detected language disagrees
    with the TLD's expected language. Output: per host, doc count,
    mismatch count/share, and the misroute verdict at
    TLD_MISROUTE_SHARE. Sits in the audit family next to
    soft404_detect (content-template poisoning) and is-greek ratios
    (the per-user composition twin over the follower graph).

    100 TB shape: map-only projection (host key + two CASE lookups
    against literal TLD->lang maps) into one partial-aggregated
    exchange on host; the language column is the upstream langid
    output (text_langid), so no text is re-scanned here. Fixture: tld
    = host % 3 round-robin over gr/com/de; document langs are 44% en,
    so .com hosts straddle the 50% verdict line and both branches are
    exercised."""
    d = _t(spark, sf, "documents")
    host_n = F.pmod(F.col("doc_id"), F.lit(TLD_HOSTS))
    tld = (
        F.when(host_n % 3 == 0, F.lit("gr"))
        .when(host_n % 3 == 1, F.lit("com"))
        .otherwise(F.lit("de"))
    )
    expected = (
        F.when(tld == "gr", F.lit("el"))
        .when(tld == "de", F.lit("de"))
        .otherwise(F.lit("en"))
    )
    g = (
        d.select(
            F.concat(F.lit("h"), host_n.cast("string"), F.lit("."), tld).alias(
                "host"
            ),
            (F.col("lang") != expected).alias("mismatch"),
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("mismatch").cast("long")).cast("long").alias("n_mismatch"),
        )
    )
    share = F.col("n_mismatch") / F.col("n_docs")
    return g.select(
        "host",
        "n_docs",
        "n_mismatch",
        F.round(100.0 * share, 4).alias("mismatch_pct"),
        (share > TLD_MISROUTE_SHARE).alias("tld_misroute"),
    )


O_TLD_LANG_MISMATCH = f"""
WITH d AS (
  SELECT doc_id % {TLD_HOSTS} AS host_n,
         CASE (doc_id % {TLD_HOSTS}) % 3 WHEN 0 THEN 'gr'
              WHEN 1 THEN 'com' ELSE 'de' END AS tld,
         lang
  FROM documents),
g AS (
  SELECT 'h' || cast(host_n as varchar) || '.' || tld AS host,
         cast(count(*) as bigint) AS n_docs,
         cast(sum(CASE WHEN lang <> (CASE tld WHEN 'gr' THEN 'el'
                  WHEN 'de' THEN 'de' ELSE 'en' END)
                  THEN 1 ELSE 0 END) as bigint) AS n_mismatch
  FROM d GROUP BY 1)
SELECT host, n_docs, n_mismatch,
       round(100.0 * n_mismatch / n_docs, 4) AS mismatch_pct,
       n_mismatch * 1.0 / n_docs > {TLD_MISROUTE_SHARE} AS tld_misroute
FROM g
"""


# ---------------------------------------------- round-5k: span-shape stats

def q_span_patterns(spark: SparkSession, sf: str) -> DataFrame:
    """Interleave-shape census of one round's fetched documents: group
    docs by their span-kind pattern (the string of 't'/'m' initials in
    span order — 'ttmt' = text,text,media,text) with per-pattern span /
    text / media counts and the number of kind SWITCHES (the
    interleavedness a multimodal packer actually cares about: 'tttmm'
    packs like two blocks, 'tmtmt' fragments every sequence). OBELICS
    and MMC4 both report exactly this census when characterizing
    interleaved corpora; downstream it drives packing-buffer sizing and
    the text-only fast path (patterns with n_media = 0 skip image
    plumbing entirely).

    100 TB shape: everything per-doc is array HOFs over the spans
    column inside the fetch projection (no explode — a doc contributes
    ONE row carrying a <=MAX_SPANS-char string, not one row per span),
    then a single partial-aggregated exchange on the pattern key whose
    cardinality is bounded by the pattern alphabet (sum over n of 2^n,
    n <= MAX_SPANS), not the corpus. Per-row span-sequence order is
    exactly the north rule's (kind, order) invariant — this query IS
    the census of that invariant.
    Reference analog: per-tweet media-attachment shape stats
    (twkit/crawler dumpall media entities), re-keyed by sequence shape.
    """
    _, plan = _plan(spark, sf)
    docs = fetch_documents(plan, ROUND_NO).dropDuplicates(["doc_id"])
    kinds = F.transform(F.col("spans"), lambda s: F.substring(s["kind"], 1, 1))
    n = F.size(kinds)
    switches = F.when(
        n > 1,
        F.size(
            F.filter(
                F.zip_with(
                    F.slice(kinds, 1, n - 1),
                    F.slice(kinds, 2, n - 1),
                    lambda a, b: a != b,
                ),
                lambda x: x,
            )
        ),
    ).otherwise(F.lit(0))
    per_doc = docs.select(
        F.concat_ws("", kinds).alias("pattern"),
        n.alias("n_spans"),
        switches.alias("n_switches"),
    )
    return (
        per_doc.groupBy("pattern")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("n_spans").cast("long").alias("n_spans"),
            F.min("n_switches").cast("long").alias("n_switches"),
        )
        .select(
            "pattern",
            "n_docs",
            "n_spans",
            (
                F.length("pattern")
                - F.length(F.regexp_replace("pattern", "t", ""))
            ).cast("long").alias("n_text"),
            (
                F.length("pattern")
                - F.length(F.regexp_replace("pattern", "m", ""))
            ).cast("long").alias("n_media"),
            "n_switches",
        )
    )


def _build_o_span_patterns() -> str:
    kind = lambda v: f"(CASE WHEN ({_stream('d', docspec._S_KIND, v)}) % 3 < 2 THEN 't' ELSE 'm' END)"  # noqa: E731
    return f"""
WITH {_SQL_PLAN_BASE},
st AS (SELECT (url_hash)::HUGEINT AS u FROM plan),
st2 AS (SELECT *, ({_stream('u', docspec._S_STATUS)}) % 100 AS r100 FROM st),
ok AS (SELECT u, (1 + ({_stream('u', docspec._S_NDOCS)}) % 4)::BIGINT AS nd
       FROM st2 WHERE r100 < 88),
dj AS (SELECT u, unnest(range(0, nd)) AS j FROM ok),
dk AS (SELECT ({_stream('u', docspec._S_DOCKEY, '256 + j')}) AS d FROM dj),
dd AS (SELECT d, (1 + ({_stream('d', docspec._S_NSPANS)}) % 8)::BIGINT AS nsp FROM dk),
pats AS (
  SELECT list_aggregate(list_transform(range(0, nsp), k -> {kind('k')}),
                        'string_agg', '') AS pattern,
         nsp AS n_spans,
         len(list_filter(range(1, nsp), k -> {kind('k')} <> {kind('(k - 1)')}))
           ::BIGINT AS n_switches
  FROM dd)
SELECT pattern,
       cast(count(*) as bigint) AS n_docs,
       cast(min(n_spans) as bigint) AS n_spans,
       cast(length(pattern) - length(replace(pattern, 't', '')) as bigint)
         AS n_text,
       cast(length(pattern) - length(replace(pattern, 'm', '')) as bigint)
         AS n_media,
       cast(min(n_switches) as bigint) AS n_switches
FROM pats GROUP BY pattern
"""


O_SPAN_PATTERNS = _build_o_span_patterns()


# --------------------------------------------- round-5k: politeness audit

PA_HOSTS = 20                   # fetcher-pool host shards
PA_MIN_GAP_US = 1_800_000_000   # politeness floor: 1800 s between hits


def q_politeness_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Politeness compliance audit over the fetch log: for every host,
    order its fetches by time and count consecutive gaps shorter than
    the politeness floor. The scheduler PLANS rounds under a per-host
    budget (crawl_budget_rank); this is the closed-loop check that the
    EXECUTED log actually honored it — drift appears when retries,
    redirects, or a second fleet member hit a host outside the plan.
    Output per host: fetch count, gap count, violations, the worst
    (minimum) observed gap, and the violation share.

    100 TB shape: ONE exchange on host, then a per-host window sorted
    by (ts, event_id) — per-partition window state is a single lag
    value, and the per-host row count is bounded per round by the same
    politeness budget being audited, so no group outgrows its
    partition even on hot hosts. Timestamps compare as exact epoch
    microseconds (unix_micros/epoch_us) — no float rounding anywhere.
    Reference analog: the crawl-cycle rate gating of scripts/
    crawl-tweets.sh (limits.py --wait between phases), audited after
    the fact instead of enforced inline."""
    e = _t(spark, sf, "events")
    g = e.select(
        F.pmod(F.col("user_id"), F.lit(PA_HOSTS)).alias("host"),
        # parquet ts is TIMESTAMP_NTZ; the session TZ is pinned UTC, so
        # the cast reinterprets naive == UTC, matching duckdb epoch_us
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        F.col("event_id"),
    )
    w = Window.partitionBy("host").orderBy("t_us", "event_id")
    gaps = g.select(
        "host", (F.col("t_us") - F.lag("t_us").over(w)).alias("gap_us")
    )
    return gaps.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_fetches"),
        F.count("gap_us").cast("long").alias("n_gaps"),
        F.sum((F.col("gap_us") < PA_MIN_GAP_US).cast("long"))
        .cast("long")
        .alias("n_violations"),
        F.min("gap_us").cast("long").alias("min_gap_us"),
        F.round(
            100.0
            * F.sum((F.col("gap_us") < PA_MIN_GAP_US).cast("long"))
            / F.count("gap_us"),
            4,
        ).alias("violation_pct"),
    )


O_POLITENESS_AUDIT = f"""
WITH g AS (
  SELECT user_id % {PA_HOSTS} AS host, epoch_us(ts) AS t_us, event_id
  FROM events),
gaps AS (
  SELECT host,
         t_us - lag(t_us) OVER (PARTITION BY host ORDER BY t_us, event_id)
           AS gap_us
  FROM g)
SELECT host,
       cast(count(*) as bigint) AS n_fetches,
       cast(count(gap_us) as bigint) AS n_gaps,
       cast(sum(CASE WHEN gap_us < {PA_MIN_GAP_US} THEN 1 ELSE 0 END) as bigint)
         AS n_violations,
       cast(min(gap_us) as bigint) AS min_gap_us,
       round(100.0 * sum(CASE WHEN gap_us < {PA_MIN_GAP_US} THEN 1 ELSE 0 END)
             / count(gap_us), 4) AS violation_pct
FROM gaps GROUP BY host
"""


# --------------------------------------------- round-5k: snapshot diff

SNAP_A_DROP = 5    # snapshot A omits keys where id % A_DROP = 0
SNAP_B_DROP = 7    # snapshot B omits keys where id % B_DROP = 0
SNAP_CHANGE = 11   # keys where id % CHANGE = 0 change state between snaps
SNAP_STATES = 1000  # state-hash space


def q_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Frontier snapshot delta audit: classify every URL key across
    two checkpointed frontier snapshots as added / removed / changed /
    same and roll the classes up with count + key checksum. The crawl
    loop commits a frontier snapshot per round (resume reads the
    latest); this diff is how an operator audits what a round — or a
    restored checkpoint — actually did to the frontier, and the
    checksum column is the cheap cross-cluster lineage comparator (two
    clusters that claim the same round must agree on all four sums).

    Fixture: both snapshots derive from the events keys — A omits
    id % {SNAP_A_DROP} = 0 (later additions), B omits id % {SNAP_B_DROP} = 0
    (purged rows), and id % {SNAP_CHANGE} = 0 rows flip their md5-derived
    state hash between snapshots, so all four verdicts appear.

    100 TB shape: ONE full-outer shuffle join on the url key at worst.
    The rollup output is 4 rows regardless of scale."""
    e = _t(spark, sf, "events")
    key = F.col("event_id")
    state_a = F.pmod(
        F.conv(F.substring(F.md5(F.concat(F.lit("s:"), key.cast("string"))), 1, 12), 16, 10).cast("long"),
        F.lit(SNAP_STATES),
    )
    state_b = F.when(
        key % SNAP_CHANGE == 0, F.pmod(state_a + 1, F.lit(SNAP_STATES))
    ).otherwise(state_a)
    snap_a = e.where(key % SNAP_A_DROP != 0).select(
        key.alias("uk"), state_a.alias("st_a")
    )
    snap_b = e.where(key % SNAP_B_DROP != 0).select(
        key.alias("uk"), state_b.alias("st_b")
    )
    j = snap_a.join(snap_b, "uk", "full_outer")
    verdict = (
        F.when(F.col("st_a").isNull(), F.lit("added"))
        .when(F.col("st_b").isNull(), F.lit("removed"))
        .when(F.col("st_a") != F.col("st_b"), F.lit("changed"))
        .otherwise(F.lit("same"))
    )
    return j.groupBy(verdict.alias("verdict")).agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.sum("uk").cast("long").alias("key_checksum"),
    )


O_SNAPSHOT_DIFF = f"""
WITH sa AS (
  SELECT event_id AS uk,
         ('0x' || substring(md5('s:' || cast(event_id as varchar)), 1, 12))::BIGINT
           % {SNAP_STATES} AS st_a
  FROM events WHERE event_id % {SNAP_A_DROP} <> 0),
sb AS (
  SELECT event_id AS uk,
         CASE WHEN event_id % {SNAP_CHANGE} = 0
              THEN ((('0x' || substring(md5('s:' || cast(event_id as varchar)), 1, 12))::BIGINT
                     % {SNAP_STATES}) + 1) % {SNAP_STATES}
              ELSE ('0x' || substring(md5('s:' || cast(event_id as varchar)), 1, 12))::BIGINT
                   % {SNAP_STATES} END AS st_b
  FROM events WHERE event_id % {SNAP_B_DROP} <> 0)
SELECT CASE WHEN st_a IS NULL THEN 'added'
            WHEN st_b IS NULL THEN 'removed'
            WHEN st_a <> st_b THEN 'changed'
            ELSE 'same' END AS verdict,
       cast(count(*) as bigint) AS n_urls,
       cast(sum(coalesce(sa.uk, sb.uk)) as bigint) AS key_checksum
FROM sa FULL OUTER JOIN sb USING (uk)
GROUP BY 1
"""


# ----------------------------- round-5m: host-graph triangle counting

TRI_HUBS = 8         # planted clique size (C(8,3) = 56 guaranteed triangles)
TRI_HUB_BASE = 300   # clique node ids: 300..307 (disjoint from periphery)
TRI_PERIPHERY = 150  # md5-random periphery nodes (sparse at oracle scale)


def _tri_edges(d: DataFrame) -> DataFrame:
    """Shared clique+periphery host-graph fixture (see q_triangle_hosts
    docstring): distinct undirected edges (u < v)."""
    is_hub = F.col("doc_id") % 5 == 0
    k = F.expr("doc_id div 5")
    h = F.md5(F.col("doc_id").cast("string"))
    u = F.when(is_hub, F.lit(TRI_HUB_BASE) + k % TRI_HUBS).otherwise(
        F.pmod(
            F.conv(F.substring(h, 1, 12), 16, 10).cast("long"),
            F.lit(TRI_PERIPHERY),
        )
    )
    v = F.when(
        is_hub, F.lit(TRI_HUB_BASE) + F.expr("doc_id div 40") % TRI_HUBS
    ).otherwise(
        F.pmod(
            F.conv(F.substring(h, 17, 12), 16, 10).cast("long"),
            F.lit(TRI_PERIPHERY),
        )
    )
    return (
        d.select(u.cast("long").alias("a"), v.cast("long").alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
    )


def q_triangle_hosts(spark: SparkSession, sf: str) -> DataFrame:
    """Per-host triangle participation over the host link graph —
    degree-ordered node-iterator (operators/graph.triangle_counts).
    Crawl use: triangle density separates organically interlinked
    communities from star aggregators and link farms; together with
    kcore_hosts it is the closure half of the host-quality panel
    (cores = densely self-referential, triangles = mutually closed),
    feeding the same budget-shaping inputs as host_graph_rank.
    Reference analog: the follower-graph community tiers of SURVEY
    §2's graph family, re-keyed host-to-host.

    Fixture: hub docs (doc_id % 5 = 0, k = doc_id/5 in 0..99) wire a
    COMPLETE clique over TRI_HUBS nodes (a = k % 8, b = (k/8) % 8
    covers all 64 ordered pairs within k < 64), planting exactly
    C(8,3) = 56 triangles every clique node touches 21 of; the other
    docs emit md5-random periphery edges over TRI_PERIPHERY nodes —
    sparse enough at oracle scale that some periphery nodes close
    triangles and many don't, so both verdict branches appear.

    100 TB shape: see triangle_counts — (degree, id) orientation
    bounds hub wedge fan-out at O(sqrt(m)) out-degree, one apex per
    triangle (no dedup pass), three node-key shuffles, no adjacency
    lists. The DuckDB oracle is the canonical x<y<z closed-form
    triple join; the hash match proves the oriented plan counts each
    triangle exactly once."""
    from .operators.graph import triangle_counts

    return triangle_counts(_tri_edges(_t(spark, sf, "documents")))


def _build_o_triangles() -> str:
    hub_u = f"{TRI_HUB_BASE} + ((doc_id // 5) % {TRI_HUBS})"
    hub_v = f"{TRI_HUB_BASE} + ((doc_id // 40) % {TRI_HUBS})"
    per = "('0x' || substring(md5(cast(doc_id as varchar)), {o}, 12))::BIGINT"
    return f"""
WITH raw AS (
  SELECT CASE WHEN doc_id % 5 = 0 THEN {hub_u}
         ELSE {per.format(o=1)} % {TRI_PERIPHERY} END AS a,
         CASE WHEN doc_id % 5 = 0 THEN {hub_v}
         ELSE {per.format(o=17)} % {TRI_PERIPHERY} END AS b
  FROM documents),
e AS MATERIALIZED (
  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
  FROM raw WHERE a <> b),
deg AS (
  SELECT n, count(*) AS d
  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
tri AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM e e1 JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
cnt AS (
  SELECT n, count(*) AS n_tri
  FROM (SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri)
  GROUP BY n)
SELECT deg.n AS node, cast(deg.d as bigint) AS degree,
       cast(coalesce(cnt.n_tri, 0) as bigint) AS n_tri
FROM deg LEFT JOIN cnt ON cnt.n = deg.n
WHERE deg.d >= 2
"""


O_TRIANGLE_HOSTS = _build_o_triangles()


# ---------------------- round-5n: EWMA-smoothed adaptive host latency

EWMA_HOSTS = 12        # fetcher-pool host shards
EWMA_ROUNDS = 6        # scheduling rounds in the fixture window
EWMA_VALUE_MOD = 249989  # latency_us fixture modulus
EWMA_TIMEOUT_CAP = 500000.0  # us; politeness ceiling
EWMA_TIMEOUT_FACTOR = 3      # timeout = factor * smoothed p50


def q_host_ewma_latency(spark: SparkSession, sf: str) -> DataFrame:
    """Online exponential smoothing (alpha = 1/2) of the per-host
    median fetch latency across scheduling rounds — the ONLINE twin of
    host_latency_quantiles' batch percentiles: a production fetcher
    updates its per-host timeout after every round from the round's
    observed latency, damped against one bad round, instead of
    re-scanning the whole fetch log. s_r = (x_r + s_{r-1}) / 2 with
    s_0 = x_0, where x_r is round r's integer median latency (same
    rank rule as hdr_quantiles' exact leg: smallest v whose cumulative
    count reaches ceil(n/2)).

    Exactness by construction: with alpha = 1/2 the recurrence has the
    closed form s_r * 2^r = x_0 + sum_{k=1..r} 2^(k-1) * x_k — an
    ALL-INTEGER numerator (the x_k are integer medians), so the only
    float op is one final division and both engines (and the python
    third implementation) agree bit-for-bit; no cross-row float
    summation order can flip the hash. The timeout rule is
    min(CAP, FACTOR * s_r), derived from the raw numerator.

    100 TB shape: the only exchange proportional to the fetch log is
    the per-(host, round) partial-aggregated median build; the
    smoothing join runs over ROUNDS rows per host (a closed-form
    weighted sum, not an iterative loop — no R-stage dependency
    chain), and what the production tier checkpoints per round is ONE
    (host, numerator, idx) row, updated by numerator' = numerator +
    2^idx * x — the same tiny-mergeable-state story as the sketch
    tier (hll_merge_rounds). Reference analog: the reference's
    in-process per-endpoint rate/latency state (twkit/twitter crawler
    loop), rebuilt as resumable batch state."""
    e = _t(spark, sf, "events")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("ewma:"), F.col("event_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    vals = e.select(
        F.pmod(F.col("user_id"), F.lit(EWMA_HOSTS)).alias("host"),
        F.pmod(F.col("event_id"), F.lit(EWMA_ROUNDS)).alias("round"),
        (F.lit(1) + F.pmod(h, F.lit(EWMA_VALUE_MOD))).alias("v"),
    )
    from pyspark.sql.window import Window

    grouped = vals.groupBy("host", "round", "v").agg(F.count(F.lit(1)).alias("c"))
    cum = grouped.withColumn(
        "cum",
        F.sum("c").over(
            Window.partitionBy("host", "round")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).withColumn(
        "n", F.sum("c").over(Window.partitionBy("host", "round"))
    )
    p50 = (
        cum.where(F.col("cum") >= F.ceil(F.col("n") / 2))
        .groupBy("host", "round", "n")
        .agg(F.min("v").alias("x"))
    )
    idx = (
        F.row_number().over(Window.partitionBy("host").orderBy("round")) - 1
    )
    p = p50.withColumn("idx", idx)
    k = p.select(
        F.col("host").alias("k_host"),
        F.col("idx").alias("k_idx"),
        F.col("x").alias("k_x"),
    )
    w = F.when(F.col("k_idx") == 0, F.lit(1).cast("long")).otherwise(
        F.pow(F.lit(2.0), F.col("k_idx") - 1).cast("long")
    )
    num = (
        p.join(k, (p["host"] == k["k_host"]) & (k["k_idx"] <= p["idx"]))
        .groupBy("host", "round", "idx", "n", "x")
        .agg(F.sum(w * F.col("k_x")).alias("num"))
    )
    ewma = F.col("num") / F.pow(F.lit(2.0), F.col("idx"))
    return num.select(
        "host",
        "round",
        F.col("n").cast("long").alias("n"),
        F.col("x").alias("p50_us"),
        F.round(ewma, 4).alias("ewma_us"),
        F.round(
            F.least(F.lit(EWMA_TIMEOUT_CAP), F.lit(EWMA_TIMEOUT_FACTOR) * ewma), 4
        ).alias("timeout_us"),
    )


O_HOST_EWMA_LATENCY = f"""
WITH vals AS (
  SELECT user_id % {EWMA_HOSTS} AS host,
         event_id % {EWMA_ROUNDS} AS round,
         1 + ('0x' || substring(md5('ewma:' || cast(event_id as varchar)), 1, 15))
             ::BIGINT % {EWMA_VALUE_MOD} AS v
  FROM events),
cum AS (
  SELECT host, round, v,
         sum(count(*)) OVER (PARTITION BY host, round ORDER BY v
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(count(*)) OVER (PARTITION BY host, round) AS n
  FROM vals GROUP BY host, round, v),
p50 AS (
  SELECT host, round, n, min(v) AS x
  FROM cum WHERE cum >= ceil(n / 2.0)
  GROUP BY host, round, n),
p AS (
  SELECT host, round, n, x,
         row_number() OVER (PARTITION BY host ORDER BY round) - 1 AS idx
  FROM p50),
num AS (
  SELECT r.host, r.round, r.idx, r.n, r.x,
         sum(CASE WHEN k.idx = 0 THEN 1
                  ELSE cast(pow(2.0, k.idx - 1) as bigint) END * k.x) AS num
  FROM p r JOIN p k ON k.host = r.host AND k.idx <= r.idx
  GROUP BY r.host, r.round, r.idx, r.n, r.x)
SELECT host, round, cast(n as bigint) AS n, x AS p50_us,
       round(num / pow(2.0, idx), 4) AS ewma_us,
       round(least({EWMA_TIMEOUT_CAP},
                   {EWMA_TIMEOUT_FACTOR} * num / pow(2.0, idx)), 4) AS timeout_us
FROM num
"""


# ----------------------------------------- UCB1 host scheduling (5o)

UCB_HOSTS = 40        # host shards in the bandit fixture
UCB_SCALE = 1_000_000  # fixed-point scale (ppm)
UCB_PICK = 8          # hosts the next round schedules


def q_ucb_host_schedule(spark, sf):
    """Fixed-point UCB1 explore/exploit host scheduling — the
    bandit-priority leg of the crawl loop: a scheduler that has pulled
    host h n_h times with w_h successes picks next round's hosts by
    score = w_h/n_h + sqrt(2*ln(N)/n_h). Rebuilt here all-integer so
    no libm call (ln, sqrt differ in last-ulp across engines) can
    flip a ranking: ln(N) -> floor(log2(N)) via the binary-string
    length (length(bin(N))-1, exact in both engines), the mean and
    the bonus as ppm integers via floor division, and the square root
    as an EXACT integer sqrt — floor(sqrt(x)) from libm followed by a
    +/-1 correction against the integer squares, so the result is
    floor-exact regardless of libm rounding. Pull/reward history is
    the deterministic fixture log (host = event_id mod 40, reward =
    md5 parity). Output per host: pulls, wins, the score decomposition
    (mean_ppm + bonus_ppm = score_ppm), the UCB rank, and the picked
    flag (rank <= UCB_PICK, ties to the lower host id).

    Rounds-as-batches: the sequential bandit loop IS the crawl round
    loop (plans/round.py) — each round appends its fetch outcomes to
    the log, and THIS query is the per-round scheduling step that
    consumes the accumulated (pulls, wins) state; like host_ewma's
    numerator, that state is one mergeable (host, pulls, wins) row
    per host, checkpoint-friendly and commutative across partitions.

    100 TB shape: one partial-aggregated groupBy(host) over the fetch
    log (or an incremental merge of per-round partials), a 1-row
    broadcast of N, and map-side integer scoring; the global rank
    over |hosts| rows is the same bounded-cardinality sort every
    scheduler tier here ends on (hosts ~ 10^7 << corpus). Reference
    analog: the priority heuristics of twkit/crawler/continuous
    crawling order (follow-edge expansion vs tracking order),
    re-expressed as an explore/exploit score."""
    e = _t(spark, sf, "events")
    win = F.when(
        F.substring(
            F.md5(F.concat(F.lit("ucb:"), F.col("event_id").cast("string"))), 1, 1
        ).isin("1", "3", "5", "7", "9", "b", "d", "f"),
        1,
    ).otherwise(0)
    per = e.select(
        F.pmod(F.col("event_id"), F.lit(UCB_HOSTS)).alias("host"),
        win.alias("w"),
    )
    agg = per.groupBy("host").agg(
        F.count(F.lit(1)).alias("pulls"), F.sum("w").cast("long").alias("wins")
    )
    tot = agg.agg(F.sum("pulls").alias("n_total"))
    j = agg.crossJoin(F.broadcast(tot))
    lg = (F.length(F.bin(F.col("n_total"))) - 1).cast("long")
    scored = j.select(
        "host",
        "pulls",
        "wins",
        lg.alias("lg"),
        F.expr(f"(wins * {UCB_SCALE}) DIV pulls").alias("mean_ppm"),
        F.expr(
            f"(2 * (length(bin(n_total)) - 1) * cast({UCB_SCALE} as bigint)"
            f" * {UCB_SCALE}) DIV pulls"
        ).alias("arg"),
    )
    s0 = F.floor(F.sqrt(F.col("arg").cast("double"))).cast("long")
    bonus = (
        F.when((s0 + 1) * (s0 + 1) <= F.col("arg"), s0 + 1)
        .when(s0 * s0 > F.col("arg"), s0 - 1)
        .otherwise(s0)
    )
    withb = scored.withColumn("bonus_ppm", bonus).withColumn(
        "score_ppm", F.col("mean_ppm") + F.col("bonus_ppm")
    )
    rk = F.row_number().over(
        Window.orderBy(F.col("score_ppm").desc(), F.col("host").asc())
    )
    return withb.select(
        "host",
        "pulls",
        "wins",
        "lg",
        "mean_ppm",
        "bonus_ppm",
        "score_ppm",
        rk.cast("long").alias("ucb_rank"),
    ).withColumn(
        "picked", F.when(F.col("ucb_rank") <= UCB_PICK, 1).otherwise(0).cast("int")
    )


O_UCB_HOST_SCHEDULE = f"""
WITH per AS (
  SELECT event_id % {UCB_HOSTS} AS host,
         CASE WHEN substring(md5('ucb:' || cast(event_id as varchar)), 1, 1)
                IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE 0 END AS w
  FROM events),
agg AS (
  SELECT host, cast(count(*) as bigint) AS pulls,
         cast(sum(w) as bigint) AS wins
  FROM per GROUP BY host),
tot AS (SELECT cast(sum(pulls) as bigint) AS n_total FROM agg),
sc AS (
  SELECT host, pulls, wins,
         cast(length(bin(n_total)) - 1 as bigint) AS lg,
         (wins * {UCB_SCALE}) // pulls AS mean_ppm,
         (2 * cast(length(bin(n_total)) - 1 as bigint)
            * {UCB_SCALE} * {UCB_SCALE}) // pulls AS arg
  FROM agg, tot),
r AS (
  SELECT *, cast(floor(sqrt(cast(arg as double))) as bigint) AS s0 FROM sc),
b AS (
  SELECT host, pulls, wins, lg, mean_ppm,
         CASE WHEN (s0+1)*(s0+1) <= arg THEN s0+1
              WHEN s0*s0 > arg THEN s0-1
              ELSE s0 END AS bonus_ppm
  FROM r)
SELECT host, pulls, wins, lg, mean_ppm, bonus_ppm,
       mean_ppm + bonus_ppm AS score_ppm,
       cast(row_number() OVER (ORDER BY mean_ppm + bonus_ppm DESC, host)
            as bigint) AS ucb_rank,
       cast(CASE WHEN row_number() OVER (ORDER BY mean_ppm + bonus_ppm DESC, host)
                      <= {UCB_PICK} THEN 1 ELSE 0 END as int) AS picked
FROM b
"""


# ------------------------------------- degree assortativity (5p)

_SQL_TRI_EDGES = f"""
raw AS (
  SELECT CASE WHEN doc_id % 5 = 0 THEN {TRI_HUB_BASE} + ((doc_id // 5) % {TRI_HUBS})
         ELSE ('0x' || substring(md5(cast(doc_id as varchar)), 1, 12))::BIGINT % {TRI_PERIPHERY} END AS a,
         CASE WHEN doc_id % 5 = 0 THEN {TRI_HUB_BASE} + ((doc_id // 40) % {TRI_HUBS})
         ELSE ('0x' || substring(md5(cast(doc_id as varchar)), 17, 12))::BIGINT % {TRI_PERIPHERY} END AS b
  FROM documents),
e AS MATERIALIZED (
  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
  FROM raw WHERE a <> b)"""

KNN_PPM = 1_000_000


def q_degree_assortativity(spark: SparkSession, sf: str) -> DataFrame:
    """Degree assortativity + the knn(k) curve over the host link
    graph (same clique+periphery fixture as triangle_hosts/kcore):
    does a high-degree host link to other high-degree hosts (mesh-like
    web, r > 0) or to leaves (star/aggregator topology, r < 0)? Crawl
    use: assortativity is the one-number summary of the host-graph
    panel (cores/triangles/rank) and knn(k) — the mean neighbor degree
    per degree class — is its curve form; a sudden disassortative dip
    at high k flags link farms pumping leaf pages.

    Exactness: over the symmetric orientation (each undirected edge
    contributes both directions) the endpoint moments M, Sx, Sxx, Sxy
    are BIGINT-exact and sigma_x == sigma_y, so Pearson r collapses to
    (M*Sxy - Sx^2) / (M*Sxx - Sx^2) — a single division of two exact
    integers < 2^53 (no sqrt, no variance estimate), bit-identical
    across engines; knn is integer ppm via floor division. The knn
    rows carry the exact integer numerators too, so the driver hash
    pins the full curve, not just the rounded ratio.

    100 TB shape: degrees are one node-key exchange; the endpoint
    decoration is two joins against the (node, degree) table (each a
    node-key shuffle, same keys as the degree build — AQE reuses the
    partitioning); the moment reduction and the |degree-classes|-row
    curve are partial-aggregated. Nothing materializes adjacency
    lists. Reference analog: the follower-graph degree statistics of
    SURVEY §2 A9/viz_degree_distribution, lifted from degree
    HISTOGRAM to degree CORRELATION."""
    edges = _tri_edges(_t(spark, sf, "documents"))
    nodes = edges.select(F.col("u").alias("n")).unionAll(
        edges.select(F.col("v").alias("n"))
    )
    deg = nodes.groupBy("n").agg(F.count(F.lit(1)).cast("long").alias("d"))
    dirs = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    j = (
        dirs.join(deg.select(F.col("n").alias("a"), F.col("d").alias("dx")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("dy")), "b")
        .select("dx", "dy")
    )
    mom = j.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("dx").alias("sx"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    )
    r = F.round(
        (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sx")).cast("double")
        / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"),
        6,
    )
    knn = j.groupBy(F.col("dx").alias("degree")).agg(
        F.count(F.lit(1)).cast("long").alias("n_endpoints"),
        F.sum("dy").alias("sum_nn_deg"),
    )
    return knn.crossJoin(F.broadcast(mom.select(r.alias("assortativity")))).select(
        "degree",
        "n_endpoints",
        "sum_nn_deg",
        F.expr(f"(sum_nn_deg * {KNN_PPM}) DIV n_endpoints").alias("knn_ppm"),
        "assortativity",
    )


O_DEGREE_ASSORTATIVITY = f"""
WITH {_SQL_TRI_EDGES},
deg AS (
  SELECT n, cast(count(*) as bigint) AS d
  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
dirs AS (
  SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
j AS (
  SELECT da.d AS dx, db.d AS dy
  FROM dirs JOIN deg da ON da.n = dirs.a JOIN deg db ON db.n = dirs.b),
mom AS (
  SELECT cast(count(*) as bigint) AS m,
         cast(sum(dx) as bigint) AS sx,
         cast(sum(dx*dx) as bigint) AS sxx,
         cast(sum(dx*dy) as bigint) AS sxy
  FROM j),
knn AS (
  SELECT dx AS degree, cast(count(*) as bigint) AS n_endpoints,
         cast(sum(dy) as bigint) AS sum_nn_deg
  FROM j GROUP BY dx)
SELECT degree, n_endpoints, sum_nn_deg,
       (sum_nn_deg * {KNN_PPM}) // n_endpoints AS knn_ppm,
       round(cast(m*sxy - sx*sx as double) / cast(m*sxx - sx*sx as double), 6)
         AS assortativity
FROM knn, mom
"""


# --------------------------------------- join-bloom FPR audit (5p)

BF_M_BITS = 65536   # bit-space of the SQL-expressible audit bloom
BF_K = 4            # hash functions (Kirsch-Mitzenmacher expanded)
BF_SHARDS = 8       # report shards (keyed by h1)
BF_PPM = 1_000_000


def q_bloom_fpr_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Observed false-positive rate of a bloom seen-filter, measured
    by a SECOND, join-expressible bloom implementation: the seen set
    (2/3 of the URL universe) sets bits pos_i = (h1 + i*h2) mod M for
    i < K (Kirsch-Mitzenmacher over two md5 halves, h2 forced odd);
    the whole universe then probes, and a key is 'maybe seen' iff ALL
    its distinct bit positions are set. Joining against exact truth
    (key % 3 != 0) yields per-shard probe/positive/false-positive
    counts and the observed FPR in ppm — all integers.

    Two tiers, one contract: the PRODUCTION seen filter is the Arrow
    bitmap (operators/seen_filter — numpy bitset, treeAggregate
    merge, broadcast probe) whose engine equality bloom==exact is
    pytest-gated; THIS query is the same bloom semantics expressed
    as pure DataFrame ops (explode K positions -> distinct ->
    position-key join -> per-key AND), which (a) gives the driver an
    SQL-oracled cross-check of the bit math and (b) IS the audit a
    production crawl runs periodically on a sample to confirm the
    deployed filter's FPR tracks the (1-e^{-kn/m})^k design point
    (~1.2% at these parameters; the exact expectation is in the test,
    not the query — e^ is not rational). No false negative is
    possible by construction: n_maybe - n_false_pos == n_seen per
    shard, asserted in tests.

    100 TB shape: bits and probes exchange on the POSITION key (both
    sides partial-distinct map-side; the bits side is capped at M
    rows total), then one key-side groupBy; the per-shard report is
    |shards| rows. The production path stays the broadcast bitmap —
    this plan is the sampled audit, not the hot path. Reference
    analog: the seen-URL dedup contract of S12/P5
    (operators/seen_filter.py, admission.py)."""
    e = _t(spark, sf, "events")
    key = F.concat(F.lit("u:"), F.col("event_id").cast("string"))
    h1 = F.pmod(
        F.conv(F.substring(F.md5(F.concat(F.lit("bf:"), key)), 1, 15), 16, 10).cast(
            "long"
        ),
        F.lit(1 << 59),
    )
    h2 = (
        F.pmod(
            F.conv(
                F.substring(F.md5(F.concat(F.lit("bf:"), key)), 17, 15), 16, 10
            ).cast("long"),
            F.lit(1 << 58),
        )
        * 2
        + 1
    )
    base = e.select(
        F.col("event_id").alias("k"),
        (F.col("event_id") % 3 != 0).alias("truth"),
        h1.alias("h1"),
        h2.alias("h2"),
    )
    pos_arr = F.array_distinct(
        F.array(
            *[
                F.pmod(F.col("h1") + i * F.col("h2"), F.lit(BF_M_BITS))
                for i in range(BF_K)
            ]
        )
    )
    keyed = base.select(
        "k", "truth", F.pmod(F.col("h1"), F.lit(BF_SHARDS)).alias("shard"),
        pos_arr.alias("pos"),
    )
    probe_pos = keyed.select("k", F.explode("pos").alias("p"))
    bits = (
        keyed.where("truth").select(F.explode("pos").alias("p")).distinct()
    )
    matched = (
        probe_pos.join(bits, "p")
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("int").alias("n_hit"))
    )
    verdict = (
        keyed.join(matched, "k", "left")
        .fillna({"n_hit": 0})
        .select(
            "shard",
            "truth",
            (F.col("n_hit") == F.size("pos")).alias("maybe"),
        )
    )
    agg = verdict.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum(F.when(F.col("truth"), 1).otherwise(0)).cast("long").alias("n_seen"),
        F.sum(F.when(F.col("maybe"), 1).otherwise(0)).cast("long").alias("n_maybe"),
        F.sum(F.when(F.col("maybe") & ~F.col("truth"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_pos"),
    )
    return agg.select(
        "shard",
        "n_probes",
        "n_seen",
        "n_maybe",
        "n_false_pos",
        F.expr(f"(n_false_pos * {BF_PPM}) DIV (n_probes - n_seen)").alias("fpr_ppm"),
    )


O_BLOOM_FPR_AUDIT = f"""
WITH base AS (
  SELECT event_id AS k,
         event_id % 3 != 0 AS truth,
         ('0x' || substring(md5('bf:' || 'u:' || cast(event_id as varchar)), 1, 15))
           ::BIGINT % {1 << 59} AS h1,
         ('0x' || substring(md5('bf:' || 'u:' || cast(event_id as varchar)), 17, 15))
           ::BIGINT % {1 << 58} * 2 + 1 AS h2
  FROM events),
keyed AS (
  SELECT k, truth, h1 % {BF_SHARDS} AS shard,
         list_distinct([{", ".join(f"(h1 + {i} * h2) % {BF_M_BITS}" for i in range(BF_K))}]) AS pos
  FROM base),
probe_pos AS (SELECT k, unnest(pos) AS p FROM keyed),
bits AS (SELECT DISTINCT unnest(pos) AS p FROM keyed WHERE truth),
matched AS (
  SELECT pp.k, count(*) AS n_hit
  FROM probe_pos pp JOIN bits b ON pp.p = b.p GROUP BY pp.k),
verdict AS (
  SELECT keyed.shard, keyed.truth,
         coalesce(m.n_hit, 0) = len(keyed.pos) AS maybe
  FROM keyed LEFT JOIN matched m ON m.k = keyed.k)
SELECT shard,
       cast(count(*) as bigint) AS n_probes,
       cast(sum(CASE WHEN truth THEN 1 ELSE 0 END) as bigint) AS n_seen,
       cast(sum(CASE WHEN maybe THEN 1 ELSE 0 END) as bigint) AS n_maybe,
       cast(sum(CASE WHEN maybe AND NOT truth THEN 1 ELSE 0 END) as bigint)
         AS n_false_pos,
       (cast(sum(CASE WHEN maybe AND NOT truth THEN 1 ELSE 0 END) as bigint)
          * {BF_PPM})
         // (cast(count(*) as bigint)
               - cast(sum(CASE WHEN truth THEN 1 ELSE 0 END) as bigint))
         AS fpr_ppm
FROM verdict GROUP BY shard
"""


# --------------------------------------- 2-hop reach (ball size, 5q)

BALL_PPM = 1_000_000


def q_ball2_hosts(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 2-hop reach |{w : dist(v,w) <= 2, w != v}| per host over
    the link graph (same clique+periphery fixture as triangle/kcore/
    assortativity — this closes the host-graph panel's distance leg):
    the crawler's 'how much of the web is two clicks from this seed'
    question, the quantity seed-list optimizers greedily maximize.
    Alongside the exact reach, the walk-count upper bound ub = deg(v)
    + sum_{u in N(v)} (deg(u)-1) and saturation = reach/ub in integer
    ppm: saturation ~1 means a tree-like neighborhood (every walk
    finds a new node), low saturation means triangle/clique overlap —
    the same signal triangle_hosts reads, from the reachability side.

    100 TB shape: the 2-hop expansion is ONE self-join of the directed
    edge list on the middle node followed by a distinct on (source,
    target) — the standard friend-of-friend shape; its output is
    bounded by sum_v deg(v)^2 (real at web scale, which is why the
    docstring tier for 10^10 nodes is per-node HLL registers merged
    over neighbors — rho-max is associative, so reach BECOMES a
    mergeable sketch; hll_distinct/hll_merge_rounds already ship that
    register algebra). The exact tier here is the calibration/audit
    form, correct at any scale where deg^2 fan-out fits, and the
    oracle pins it bit-for-bit. Reference analog: SURVEY §2's
    follower-graph 2-hop audience estimates (friends-of-friends
    reach), re-keyed host-to-host."""
    edges = _tri_edges(_t(spark, sf, "documents"))
    dirs = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = dirs.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("d"))
    x, y = dirs.alias("x"), dirs.alias("y")
    hop2 = (
        x.join(y, F.col("x.b") == F.col("y.a"))
        .select(F.col("x.a").alias("a"), F.col("y.b").alias("c"))
        .where(F.col("a") != F.col("c"))
    )
    reach = (
        dirs.select("a", F.col("b").alias("c"))
        .unionAll(hop2)
        .distinct()
        .groupBy("a")
        .agg(F.count(F.lit(1)).cast("long").alias("reach2"))
    )
    ext = (
        dirs.join(
            deg.select(F.col("a").alias("b"), F.col("d").alias("db")), "b"
        )
        .groupBy("a")
        .agg(F.sum(F.col("db") - 1).alias("ext"))
    )
    out = (
        deg.join(reach, "a")
        .join(ext, "a")
        .select(
            F.col("a").alias("node"),
            F.col("d").alias("degree"),
            "reach2",
            (F.col("d") + F.col("ext")).alias("walk_ub"),
        )
    )
    return out.withColumn(
        "saturation_ppm", F.expr(f"(reach2 * {BALL_PPM}) DIV walk_ub")
    )


O_BALL2_HOSTS = f"""
WITH {_SQL_TRI_EDGES},
dirs AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
deg AS (SELECT a, cast(count(*) as bigint) AS d FROM dirs GROUP BY a),
hop2 AS (
  SELECT x.a AS a, y.b AS c
  FROM dirs x JOIN dirs y ON x.b = y.a WHERE x.a <> y.b),
reach AS (
  SELECT a, cast(count(*) as bigint) AS reach2 FROM (
    SELECT DISTINCT a, c FROM (
      SELECT a, b AS c FROM dirs UNION ALL SELECT a, c FROM hop2))
  GROUP BY a),
ext AS (
  SELECT dirs.a, cast(sum(dd.d - 1) as bigint) AS ext
  FROM dirs JOIN deg dd ON dd.a = dirs.b GROUP BY dirs.a)
SELECT deg.a AS node, deg.d AS degree, reach.reach2,
       deg.d + ext.ext AS walk_ub,
       (reach.reach2 * {BALL_PPM}) // (deg.d + ext.ext) AS saturation_ppm
FROM deg JOIN reach ON reach.a = deg.a JOIN ext ON ext.a = deg.a
"""


# --------------------------- interleaved span transition census (5q)

SPANT_PPM = 1_000_000


def q_span_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """Span-kind TRANSITION matrix of one round's fetched interleaved
    documents — the pairwise complement of span_patterns' per-pattern
    census: for every adjacent span pair, count (from_kind, to_kind)
    occurrences, the distinct docs containing each transition, and the
    mean 0-based position of the transition (integer ppm). t->m vs
    m->t asymmetry says whether media LEADS or TRAILS text in the
    corpus (caption-style vs thumbnail-style layouts); position says
    whether switches cluster early or late — both feed the multimodal
    packer's buffer policy directly, and both run on the north-rule
    payload shape itself ((kind, order) invariant per row).

    100 TB shape: the pair expansion is an array HOF over the spans
    column (per-doc fan-out bounded by MAX_SPANS, not corpus-shaped)
    into ONE partial-aggregated exchange on a key whose cardinality is
    the kind-alphabet squared (4 rows here) — the aggregate output is
    CONSTANT-size regardless of corpus scale. Reference analog:
    media-attachment ordering stats of the reference's tweet entities,
    lifted to span sequences."""
    _, plan = _plan(spark, sf)
    docs = fetch_documents(plan, ROUND_NO).dropDuplicates(["doc_id"])
    kinds = F.transform(F.col("spans"), lambda s: F.substring(s["kind"], 1, 1))
    n = F.size(kinds)
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    trans = F.transform(
        idx,
        lambda k: F.struct(
            F.element_at(F.col("kinds"), k).alias("from_kind"),
            F.element_at(F.col("kinds"), k + 1).alias("to_kind"),
            (k - 1).cast("long").alias("pos"),
        ),
    )
    ex = (
        docs.withColumn("kinds", kinds)
        .select("doc_id", F.explode(trans).alias("t"))
        .select("doc_id", "t.from_kind", "t.to_kind", "t.pos")
    )
    agg = ex.groupBy("from_kind", "to_kind").agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.sum("pos").alias("sum_pos"),
    )
    return agg.withColumn(
        "mean_pos_ppm", F.expr(f"(sum_pos * {SPANT_PPM}) DIV n_transitions")
    )


def _build_o_span_transitions() -> str:
    kind = lambda v: f"(CASE WHEN ({_stream('d', docspec._S_KIND, v)}) % 3 < 2 THEN 't' ELSE 'm' END)"  # noqa: E731
    return f"""
WITH {_SQL_PLAN_BASE},
st AS (SELECT (url_hash)::HUGEINT AS u FROM plan),
st2 AS (SELECT *, ({_stream('u', docspec._S_STATUS)}) % 100 AS r100 FROM st),
ok AS (SELECT u, (1 + ({_stream('u', docspec._S_NDOCS)}) % 4)::BIGINT AS nd
       FROM st2 WHERE r100 < 88),
dk AS (SELECT ({_stream('u', docspec._S_DOCKEY, '256 + j')}) AS d
       FROM (SELECT u, unnest(range(0, nd)) AS j FROM ok)),
dd AS (SELECT d, (1 + ({_stream('d', docspec._S_NSPANS)}) % 8)::BIGINT AS nsp FROM dk),
ex AS (
  SELECT d, {kind('(k - 1)')} AS from_kind, {kind('k')} AS to_kind,
         cast(k - 1 as bigint) AS pos
  FROM (SELECT d, nsp, unnest(range(1, nsp)) AS k FROM dd))
SELECT from_kind, to_kind,
       cast(count(*) as bigint) AS n_transitions,
       cast(count(DISTINCT d) as bigint) AS n_docs,
       cast(sum(pos) as bigint) AS sum_pos,
       (cast(sum(pos) as bigint) * {SPANT_PPM}) // cast(count(*) as bigint)
         AS mean_pos_ppm
FROM ex GROUP BY from_kind, to_kind
"""


O_SPAN_TRANSITIONS = _build_o_span_transitions()


# ------------------------------ Weisfeiler-Lehman host colors (5r)

WL_ROUNDS = 2


def q_wl_host_hash(spark: SparkSession, sf: str) -> DataFrame:
    """Weisfeiler-Lehman color refinement over the host link graph
    (same fixture as triangle/kcore/assortativity/ball2): start from
    degree labels, then WL_ROUNDS times re-color every node as
    md5(own_color || '|' || sorted comma-joined neighbor colors) —
    the 1-WL graph fingerprint (Weisfeiler & Lehman 1968; the
    isomorphism-test workhorse behind GIN-style graph nets). Crawl
    use: WL colors are STRUCTURAL host signatures — two mirror hosts
    (mirror_detect finds them by content) also collide in WL color
    space by link structure alone, and color-class sizes summarize
    how template-like the host graph is. Output per final color:
    class size, member-id sum/min (hash-pins the exact partition of
    nodes into classes).

    Determinism: colors are md5 hex strings; the neighbor multiset is
    canonicalized by a BINARY-collation sort + comma join, identical
    in Spark (array_sort + array_join) and DuckDB (string_agg ORDER
    BY), so every round's coloring is bit-reproducible — no hash
    seeds, no iteration-order dependence.

    100 TB shape: each WL round is ONE node-key aggregation of
    neighbor colors over the directed edge list (the classic message
    round — same exchange pattern as pagerank/HITS, which already
    ship here), with the 32-byte color as the only state per node;
    WL_ROUNDS is a small constant. Class-size rollup partial-
    aggregates on the color key. Reference analog: none — host-graph
    infrastructure for the mirror/template tier."""
    edges = _tri_edges(_t(spark, sf, "documents"))
    dirs = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    colors = dirs.groupBy("a").agg(
        F.count(F.lit(1)).cast("long").alias("d")
    ).select(F.col("a").alias("n"), F.col("d").cast("string").alias("c"))
    for _ in range(WL_ROUNDS):
        nbr = dirs.join(
            colors.select(F.col("n").alias("b"), F.col("c").alias("nc")), "b"
        )
        msg = nbr.groupBy("a").agg(
            F.array_join(F.array_sort(F.collect_list("nc")), ",").alias("msg")
        )
        colors = (
            colors.join(msg, colors["n"] == msg["a"])
            .select(
                "n",
                F.md5(F.concat(F.col("c"), F.lit("|"), F.col("msg"))).alias("c"),
            )
            .localCheckpoint(eager=False)
        )
    return colors.groupBy(F.col("c").alias("wl_color")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("n").alias("sum_node_ids"),
        F.min("n").alias("min_node_id"),
    )


def _build_o_wl() -> str:
    rounds = []
    prev = "c0"
    for t in range(1, WL_ROUNDS + 1):
        rounds.append(
            f"""m{t} AS (
  SELECT dirs.a, string_agg(p.c, ',' ORDER BY p.c) AS msg
  FROM dirs JOIN {prev} p ON p.n = dirs.b GROUP BY dirs.a),
c{t} AS (
  SELECT p.n, md5(p.c || '|' || m.msg) AS c
  FROM {prev} p JOIN m{t} m ON m.a = p.n)"""
        )
        prev = f"c{t}"
    chain = ",\n".join(rounds)
    return f"""
WITH {_SQL_TRI_EDGES},
dirs AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
c0 AS (
  SELECT a AS n, cast(count(*) as varchar) AS c FROM dirs GROUP BY a),
{chain}
SELECT c AS wl_color,
       cast(count(*) as bigint) AS n_nodes,
       cast(sum(n) as bigint) AS sum_node_ids,
       min(n) AS min_node_id
FROM c{WL_ROUNDS} GROUP BY c
"""


O_WL_HOST_HASH = _build_o_wl()


# --------------------------- rendezvous-ring resize audit (5r)

RING_CRAWLERS = 12   # crawler pool before the resize
RING_PPM = 1_000_000


def q_ring_rebalance(spark: SparkSession, sf: str) -> DataFrame:
    """Rendezvous-hash resize audit: assign every URL key to its
    highest-random-weight crawler under C = RING_CRAWLERS and again
    under C+1, and measure the movement — the capacity-planning
    question behind fetcher_assignment ('what does adding one crawler
    cost in re-sharded state?'). HRW's minimal-disruption guarantee
    says a key moves IFF the new crawler wins it, so keys moved
    BETWEEN two old crawlers must be exactly zero — emitted as its
    own column (n_moved_elsewhere) so the driver hash PINS the
    guarantee, not just the totals. Per old owner: keys held, keys
    ceded to the new crawler, movement in integer ppm (expected ~
    1/(C+1) of each shard, binomial spread).

    Determinism: the weight is the md5 hex string of ('ring:' || c ||
    ':' || key) compared in binary collation — no numeric conversion,
    no ties in practice (distinct 128-bit strings); the argmax is a
    per-key window with (weight, crawler) ordering so even a
    hypothetical tie breaks identically in both engines.

    100 TB shape: keys x (C+1) candidate rows expand map-side from a
    broadcast crawler list (C is the POOL size, tiny), the double
    argmax is one per-key reduction (max_by twice over the same
    expansion — a single exchange), and the report is |C| rows.
    Production note: at 10^10 keys you never materialize global
    assignments — this audit runs on a key SAMPLE (like lsh_s_curve,
    calibration not hot path); the hot path evaluates C md5s per key
    map-side at admission time. Reference analog: the multi-crawler
    work sharding of the reference's parallel crawler accounts
    (SURVEY §2 S1/S2 fleet), measured across a resize."""
    # Per-key HRW argmax inside Arrow batches (guide §4.2): the C+1
    # md5 weights per key are exact hex strings and the double argmax
    # is lexicographic (weight, cid) — Python tuple-max over lowercase
    # hexdigests is byte-identical to the old keys x crawlers crossJoin
    # + struct-max aggregate, and the per-batch counters pre-reduce to
    # |C| rows map-side, so NEITHER the 13M-row expansion NOR the 1M-row
    # per-key table ever crosses an exchange.
    import pandas as pd

    from .operators.dedup import spread_for_explode

    e = spread_for_explode(_t(spark, sf, "events"), "event_id")

    def hrw_counts(batches):
        import hashlib

        for pdf in batches:
            acc = {}  # old_owner -> [n_keys, n_to_new, n_elsewhere]
            for event_id in pdf["event_id"]:
                k = f"u:{event_id}"
                best_old = best_new = None
                for cid in range(RING_CRAWLERS + 1):
                    w = hashlib.md5(f"ring:{cid}:{k}".encode("utf-8")).hexdigest()
                    t = (w, cid)
                    if best_new is None or t > best_new:
                        best_new = t
                    if cid < RING_CRAWLERS and (best_old is None or t > best_old):
                        best_old = t
                old, new = best_old[1], best_new[1]
                a = acc.setdefault(old, [0, 0, 0])
                a[0] += 1
                if new != old:
                    if new == RING_CRAWLERS:
                        a[1] += 1
                    else:
                        a[2] += 1
            yield pd.DataFrame(
                {
                    "old_owner": list(acc),
                    "nk": [v[0] for v in acc.values()],
                    "tn": [v[1] for v in acc.values()],
                    "me": [v[2] for v in acc.values()],
                }
            )

    partials = e.select("event_id").mapInPandas(
        hrw_counts, schema="old_owner int, nk long, tn long, me long"
    )
    agg = partials.groupBy(F.col("old_owner").alias("crawler")).agg(
        F.sum("nk").alias("n_keys"),
        F.sum("tn").alias("n_moved_to_new"),
        F.sum("me").alias("n_moved_elsewhere"),
    )
    return agg.withColumn(
        "moved_ppm",
        F.expr(f"((n_moved_to_new + n_moved_elsewhere) * {RING_PPM}) DIV n_keys"),
    )


O_RING_REBALANCE = f"""
WITH keys AS (
  SELECT 'u:' || cast(event_id as varchar) AS k FROM events),
scored AS (
  SELECT k, cid,
         md5('ring:' || cast(cid as varchar) || ':' || k) AS w
  FROM keys, (SELECT unnest(range(0, {RING_CRAWLERS + 1})) AS cid)),
per_key AS (
  SELECT k,
         arg_max(cid, w) FILTER (WHERE cid < {RING_CRAWLERS}) AS old_owner,
         arg_max(cid, w) AS new_owner
  FROM scored GROUP BY k),
flags AS (
  SELECT old_owner,
         new_owner <> old_owner AS moved,
         new_owner <> old_owner AND new_owner = {RING_CRAWLERS} AS to_new
  FROM per_key)
SELECT old_owner AS crawler,
       cast(count(*) as bigint) AS n_keys,
       cast(sum(CASE WHEN to_new THEN 1 ELSE 0 END) as bigint)
         AS n_moved_to_new,
       cast(sum(CASE WHEN moved AND NOT to_new THEN 1 ELSE 0 END) as bigint)
         AS n_moved_elsewhere,
       ((cast(sum(CASE WHEN to_new THEN 1 ELSE 0 END) as bigint)
           + cast(sum(CASE WHEN moved AND NOT to_new THEN 1 ELSE 0 END) as bigint))
          * {RING_PPM})
         // cast(count(*) as bigint) AS moved_ppm
FROM flags GROUP BY old_owner
"""


# ----------------------------- scheduling fairness (Jain, 5r)

JAIN_PPM = 1_000_000


def q_sched_fairness(spark: SparkSession, sf: str) -> DataFrame:
    """Jain's fairness index over the round's ACTUAL per-host fetch
    allocation (the engine's own scheduling plan, not a synthetic
    log): J = (sum x)^2 / (n * sum x^2) over per-host scheduled
    counts x_h — 1.0 means every host got an equal share, 1/n means
    one host took everything. This is the closed-loop audit of the
    politeness budget's FAIRNESS (politeness_audit checks per-host
    legality, this checks cross-host equity — a budget can be legal
    per host and still starve the tail). Output: the per-host-count
    histogram (n_scheduled -> n_hosts, pinning the whole allocation
    distribution) with the exact moment columns and J in integer ppm
    ((S1^2 * 1e6) DIV (n * S2) — one floor division of exact
    BIGINTs).

    100 TB shape: per-host counts partial-aggregate on the host key
    (the plan is already host-clustered from the budget stage); the
    histogram exchanges on the COUNT value (cardinality ~ budget
    ceiling, tiny) and the moments reduce to one row broadcast onto
    it. Reference analog: the reference balances crawler accounts by
    rate-limit windows (SURVEY §2 S1/J5); this is that balance,
    measured."""
    _, plan = _plan(spark, sf)
    x = plan.groupBy("host").agg(F.count(F.lit(1)).cast("long").alias("x"))
    mom = x.agg(
        F.count(F.lit(1)).cast("long").alias("n_hosts_total"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    hist = x.groupBy(F.col("x").alias("n_scheduled")).agg(
        F.count(F.lit(1)).cast("long").alias("n_hosts")
    )
    return hist.crossJoin(F.broadcast(mom)).select(
        "n_scheduled",
        "n_hosts",
        "n_hosts_total",
        "s1",
        "s2",
        F.expr(f"(s1 * s1 * {JAIN_PPM}) DIV (n_hosts_total * s2)").alias(
            "jain_ppm"
        ),
    )


O_SCHED_FAIRNESS = f"""
WITH {_SQL_PLAN_BASE},
x AS (
  SELECT host, cast(count(*) as bigint) AS x FROM plan GROUP BY host),
mom AS (
  SELECT cast(count(*) as bigint) AS n_hosts_total,
         cast(sum(x) as bigint) AS s1,
         cast(sum(x*x) as bigint) AS s2
  FROM x),
hist AS (
  SELECT x AS n_scheduled, cast(count(*) as bigint) AS n_hosts
  FROM x GROUP BY x)
SELECT n_scheduled, n_hosts, n_hosts_total, s1, s2,
       (s1 * s1 * {JAIN_PPM}) // (n_hosts_total * s2) AS jain_ppm
FROM hist, mom
"""


# ------------------------------ hub-removal robustness (5s)

ROB_K = 8  # hubs removed (by degree desc, id asc) — exactly the clique


def q_host_robustness(spark: SparkSession, sf: str) -> DataFrame:
    """Percolation/robustness audit of the host graph: recompute the
    connected-component structure after removing the ROB_K
    highest-degree hosts (ties to the lower id) and compare with the
    intact graph — the classic 'what if the hubs die' resilience
    question (Albert/Jeong/Barabasi 2000: scale-free graphs shatter
    under targeted hub removal). Crawl use: if the crawl's host graph
    is hub-fragile, seed-list and politeness policy must not starve
    those hubs, and mirror/CDN hubs deserve redundant fetch capacity.
    Output one row per scenario ('full', 'pruned'): node/edge counts,
    component count, largest component size, and the S2 fragmentation
    index sum(comp_size^2) — the percolation literature's
    susceptibility numerator, BIGINT-exact.

    100 TB shape: degrees + the top-K hub set are one node-key
    aggregation and a K-row broadcast; edge pruning is a map-side
    anti-filter against that broadcast; each scenario then runs the
    same alternating large-star/small-star CC operator
    (operators/dedup.py:274, O(log n) shuffle rounds on the
    contracted graph) that host_components/dedup_clusters already
    gate. Isolated survivors (nodes whose every edge died with a hub)
    are singleton components via the same left-join convention as
    host_components. Reference analog: the follower-graph resilience
    reading of SURVEY §2's graph tier."""
    from .operators.dedup import connected_components

    # edges/deg feed both scenarios — checkpoint once (eager: committed
    # before the scenario threads fan out)
    edges = _tri_edges(_t(spark, sf, "documents")).localCheckpoint(eager=True)
    dirs = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = dirs.groupBy("a").agg(
        F.count(F.lit(1)).cast("long").alias("d")
    ).localCheckpoint(eager=True)
    hubs = (
        deg.orderBy(F.col("d").desc(), F.col("a").asc())
        .limit(ROB_K)
        .select(F.col("a").alias("hub"))
    )

    def scenario_row(scenario):
        if scenario == "full":
            ed = edges
            nodes = deg.select(F.col("a").alias("n"))
        else:
            ed = (
                edges.join(
                    F.broadcast(hubs), edges["u"] == hubs["hub"], "left_anti"
                ).join(F.broadcast(hubs), edges["v"] == hubs["hub"], "left_anti")
            )
            nodes = deg.join(
                F.broadcast(hubs), deg["a"] == hubs["hub"], "left_anti"
            ).select(F.col("a").alias("n"))
        cc = connected_components(ed, "u", "v")
        comp = nodes.join(cc, nodes["n"] == cc["node"], "left").select(
            "n", F.coalesce("component", F.col("n")).alias("comp")
        )
        sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).cast("long").alias("sz"))
        summ = sizes.agg(
            F.count(F.lit(1)).cast("long").alias("n_components"),
            F.max("sz").alias("largest_comp"),
            F.sum(F.col("sz") * F.col("sz")).alias("s2_fragmentation"),
        )
        meta = nodes.agg(F.count(F.lit(1)).cast("long").alias("n_nodes")).crossJoin(
            ed.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
        )
        return meta.crossJoin(summ).select(
            F.lit(scenario).alias("scenario"),
            "n_nodes",
            "n_edges",
            "n_components",
            "largest_comp",
            "s2_fragmentation",
        )

    # the two scenarios are independent CC runs dominated by per-round
    # job latency — overlap them (guide §2.6)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        rows = list(pool.map(scenario_row, ("full", "pruned")))
    return rows[0].unionByName(rows[1])


def _build_o_robustness() -> str:
    def closure(tag: str, edge_cte: str, node_cte: str) -> str:
        return f"""
und_{tag} AS (SELECT u, v FROM {edge_cte} UNION SELECT v, u FROM {edge_cte}),
reach_{tag}(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM und_{tag})
  UNION
  SELECT r.u, e.v FROM reach_{tag} r JOIN und_{tag} e ON r.v = e.u),
comp_{tag} AS (
  SELECT n.n, coalesce(c.component, n.n) AS comp
  FROM {node_cte} n LEFT JOIN
       (SELECT u AS node, min(v) AS component FROM reach_{tag} GROUP BY u) c
    ON c.node = n.n),
sizes_{tag} AS (
  SELECT comp, cast(count(*) as bigint) AS sz FROM comp_{tag} GROUP BY comp),
summ_{tag} AS (
  SELECT '{tag}' AS scenario,
         (SELECT cast(count(*) as bigint) FROM {node_cte}) AS n_nodes,
         (SELECT cast(count(*) as bigint) FROM {edge_cte}) AS n_edges,
         cast(count(*) as bigint) AS n_components,
         max(sz) AS largest_comp,
         cast(sum(sz*sz) as bigint) AS s2_fragmentation
  FROM sizes_{tag})"""

    return f"""
WITH RECURSIVE {_SQL_TRI_EDGES},
dirs AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
deg AS (SELECT a, cast(count(*) as bigint) AS d FROM dirs GROUP BY a),
hubs AS (SELECT a AS hub FROM deg ORDER BY d DESC, a ASC LIMIT {ROB_K}),
nodes_full AS (SELECT a AS n FROM deg),
nodes_pruned AS (
  SELECT a AS n FROM deg WHERE a NOT IN (SELECT hub FROM hubs)),
e_pruned AS (
  SELECT u, v FROM e
  WHERE u NOT IN (SELECT hub FROM hubs)
    AND v NOT IN (SELECT hub FROM hubs)),
{closure('full', 'e', 'nodes_full')},
{closure('pruned', 'e_pruned', 'nodes_pruned')}
SELECT * FROM summ_full UNION ALL SELECT * FROM summ_pruned
"""


O_HOST_ROBUSTNESS = _build_o_robustness()


# ------------------------ priority rank correlation (Kendall, 5s)

RANKCORR_PPM = 1_000_000


def q_priority_rank_corr(spark: SparkSession, sf: str) -> DataFrame:
    """Exact Kendall rank agreement between two crawl-priority
    signals — node DEGREE (cheap, one aggregation) vs TRIANGLE count
    (expensive, the closure signal) — over the host graph: does the
    cheap signal order hosts the same way the expensive one does? If
    concordance is high, the scheduler can rank by degree and skip
    the triangle pass at 100 TB; the discordant mass is exactly what
    that shortcut gets wrong. Over all node pairs: concordant
    ((d_i-d_j)(t_i-t_j) > 0), discordant (< 0), tied (either signal
    equal) — BIGINT counts, with both rates in integer ppm (tau-a =
    conc_ppm - disc_ppm, derivable exactly; emitted as the two
    non-negative terms so every division is a floor division of
    non-negative integers — no negative-DIV semantics divergence
    between engines).

    100 TB shape: the node signature table (node, degree, n_tri)
    comes from the already-audited triangle_counts operator; the
    pair comparison is all-pairs over NODES (hosts, bounded — the
    same |hosts|^2 regime as the scheduler's rank tails; at 10^7
    hosts production samples pairs, same calibration-on-a-sample
    discipline as lsh_s_curve/ring_rebalance, documented here).
    Reference analog: choosing between twAwler's cheap tracking-order
    heuristics and graph-derived priorities (SURVEY §2 J5/O1),
    quantified."""
    from .operators.graph import triangle_counts

    sig = triangle_counts(_tri_edges(_t(spark, sf, "documents"))).select(
        "node", "degree", "n_tri"
    )
    a, b = sig.alias("a"), sig.alias("b")
    pairs = a.join(b, F.col("a.node") < F.col("b.node")).select(
        (F.col("a.degree") - F.col("b.degree")).alias("dd"),
        (F.col("a.n_tri") - F.col("b.n_tri")).alias("dt"),
    )
    agg = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("dd") * F.col("dt") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_concordant"),
        F.sum(F.when(F.col("dd") * F.col("dt") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_discordant"),
        F.sum(F.when((F.col("dd") == 0) | (F.col("dt") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n_tied"),
    )
    n_nodes = sig.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    return agg.crossJoin(F.broadcast(n_nodes)).select(
        "n_nodes",
        "n_pairs",
        "n_concordant",
        "n_discordant",
        "n_tied",
        F.expr(f"(n_concordant * {RANKCORR_PPM}) DIV n_pairs").alias("conc_ppm"),
        F.expr(f"(n_discordant * {RANKCORR_PPM}) DIV n_pairs").alias("disc_ppm"),
    )


def _build_o_rank_corr() -> str:
    # triangle signature: the closed-form x<y<z triple join
    # (same shape as O_TRIANGLE_HOSTS)
    return f"""
WITH {_SQL_TRI_EDGES},
deg AS (
  SELECT n, count(*) AS d
  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
tri AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM e e1 JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
cnt AS (
  SELECT n, count(*) AS n_tri
  FROM (SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri)
  GROUP BY n),
sig AS (
  SELECT deg.n AS node, cast(deg.d as bigint) AS degree,
         cast(coalesce(cnt.n_tri, 0) as bigint) AS n_tri
  FROM deg LEFT JOIN cnt ON cnt.n = deg.n
  WHERE deg.d >= 2),
pairs AS (
  SELECT (a.degree - b.degree) AS dd, (a.n_tri - b.n_tri) AS dt
  FROM sig a JOIN sig b ON a.node < b.node),
agg AS (
  SELECT cast(count(*) as bigint) AS n_pairs,
         cast(sum(CASE WHEN dd * dt > 0 THEN 1 ELSE 0 END) as bigint)
           AS n_concordant,
         cast(sum(CASE WHEN dd * dt < 0 THEN 1 ELSE 0 END) as bigint)
           AS n_discordant,
         cast(sum(CASE WHEN dd = 0 OR dt = 0 THEN 1 ELSE 0 END) as bigint)
           AS n_tied
  FROM pairs)
SELECT (SELECT cast(count(*) as bigint) FROM sig) AS n_nodes,
       n_pairs, n_concordant, n_discordant, n_tied,
       (n_concordant * {RANKCORR_PPM}) // n_pairs AS conc_ppm,
       (n_discordant * {RANKCORR_PPM}) // n_pairs AS disc_ppm
FROM agg
"""


O_PRIORITY_RANK_CORR = _build_o_rank_corr()


# ----------------------------- top-k prefix overlap curve (5t)

TOPK_D = 20
TOPK_PPM = 1_000_000


def q_topk_overlap_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Top-weighted agreement between two crawl-priority rankings —
    the prefix-overlap curve underneath RBO (Webber et al. 2010):
    for every depth d <= TOPK_D, how many hosts appear in BOTH the
    degree-ranked and the triangle-ranked top-d? priority_rank_corr
    answers 'do the signals agree globally'; this answers the
    scheduler's actual question, 'do they agree where it matters —
    at the TOP, where the fetch budget goes'. Per depth: the overlap
    count, overlap/d, and the prefix Jaccard ov/(2d-ov), both in
    integer ppm. Rankings break ties deterministically by node id, so
    both engines produce the identical permutation.

    100 TB shape: the two rankings are bounded-cardinality sorts over
    HOSTS (the scheduler's own rank tail); the depth expansion rides
    a TOPK_D-row broadcast onto the top-d survivors only (rows where
    both ranks <= TOPK_D matter; everything deeper is filtered before
    the expansion), and the curve is TOPK_D rows. Reference analog:
    comparing the reference's tracking-order priorities against
    graph-derived ones at the head of the queue (SURVEY §2 O1/O4)."""
    from .operators.graph import triangle_counts

    sig = triangle_counts(_tri_edges(_t(spark, sf, "documents"))).select(
        "node", "degree", "n_tri"
    )
    rk_deg = F.row_number().over(
        Window.orderBy(F.col("degree").desc(), F.col("node").asc())
    )
    rk_tri = F.row_number().over(
        Window.orderBy(F.col("n_tri").desc(), F.col("node").asc())
    )
    ranked = sig.select(
        "node", rk_deg.alias("ra"), rk_tri.alias("rb")
    ).where((F.col("ra") <= TOPK_D) | (F.col("rb") <= TOPK_D))
    depths = spark.range(1, TOPK_D + 1).select(F.col("id").cast("long").alias("d"))
    ov = (
        ranked.crossJoin(F.broadcast(depths))
        .where((F.col("ra") <= F.col("d")) & (F.col("rb") <= F.col("d")))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    full = depths.join(ov, "d", "left").fillna({"n_overlap": 0})
    return full.select(
        F.col("d").alias("depth"),
        "n_overlap",
        F.expr(f"(n_overlap * {TOPK_PPM}) DIV d").alias("overlap_ppm"),
        F.expr(f"(n_overlap * {TOPK_PPM}) DIV (2 * d - n_overlap)").alias(
            "jaccard_ppm"
        ),
    )


def _build_o_topk_overlap() -> str:
    return f"""
WITH {_SQL_TRI_EDGES},
deg AS (
  SELECT n, count(*) AS d
  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
tri AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM e e1 JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
cnt AS (
  SELECT n, count(*) AS n_tri
  FROM (SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri)
  GROUP BY n),
sig AS (
  SELECT deg.n AS node, cast(deg.d as bigint) AS degree,
         cast(coalesce(cnt.n_tri, 0) as bigint) AS n_tri
  FROM deg LEFT JOIN cnt ON cnt.n = deg.n
  WHERE deg.d >= 2),
ranked AS (
  SELECT node,
         row_number() OVER (ORDER BY degree DESC, node ASC) AS ra,
         row_number() OVER (ORDER BY n_tri DESC, node ASC) AS rb
  FROM sig),
depths AS (SELECT unnest(range(1, {TOPK_D} + 1)) AS d),
ov AS (
  SELECT d, cast(count(*) as bigint) AS n_overlap
  FROM ranked, depths
  WHERE ra <= d AND rb <= d GROUP BY d)
SELECT cast(depths.d as bigint) AS depth,
       coalesce(ov.n_overlap, 0) AS n_overlap,
       (coalesce(ov.n_overlap, 0) * {TOPK_PPM}) // depths.d AS overlap_ppm,
       (coalesce(ov.n_overlap, 0) * {TOPK_PPM})
         // (2 * depths.d - coalesce(ov.n_overlap, 0)) AS jaccard_ppm
FROM depths LEFT JOIN ov ON ov.d = depths.d
"""


O_TOPK_OVERLAP_CURVE = _build_o_topk_overlap()


# ----------------------------------- UCB regret audit (5t)

REGRET_PPM = 1_000_000


def q_ucb_regret_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Hindsight regret decomposition of the bandit fixture behind
    ucb_host_schedule: identify the empirically best arm (exact mean
    comparison — w/n as an IEEE-exact division of two integers, ties
    to the lower host id) and, for every host, the exact integer mean
    gap cross-product gap_num = w_best*n_h - w_h*n_best (>= 0 by
    construction of 'best', BIGINT) and the per-pull mean gap in ppm
    ((gap_num * 1e6) DIV (n_best * n_h)). The scheduler reads this as
    'what did exploring host h cost per pull vs exploiting the best
    known host' — the realized-regret ledger that justifies (or
    indicts) the UCB bonus. Every emitted quantity is an exact
    integer or one floor division of exact non-negative integers.

    100 TB shape: same one groupBy(host) as ucb_host_schedule, a
    1-row broadcast of the best arm (a bounded sort head), map-side
    gap arithmetic, |hosts| output rows. The mergeable state is the
    same (host, pulls, wins) row. Reference analog: the accounting
    side of the reference's crawler-account balancing (SURVEY §2
    S1/J5), read as explore/exploit cost."""
    e = _t(spark, sf, "events")
    win = F.when(
        F.substring(
            F.md5(F.concat(F.lit("ucb:"), F.col("event_id").cast("string"))), 1, 1
        ).isin("1", "3", "5", "7", "9", "b", "d", "f"),
        1,
    ).otherwise(0)
    agg = (
        e.select(
            F.pmod(F.col("event_id"), F.lit(UCB_HOSTS)).alias("host"),
            win.alias("w"),
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("pulls"),
            F.sum("w").cast("long").alias("wins"),
        )
    )
    best = (
        agg.orderBy(
            (F.col("wins").cast("double") / F.col("pulls").cast("double")).desc(),
            F.col("host").asc(),
        )
        .limit(1)
        .select(
            F.col("host").alias("best_host"),
            F.col("pulls").alias("n_best"),
            F.col("wins").alias("w_best"),
        )
    )
    j = agg.crossJoin(F.broadcast(best))
    return j.select(
        "host",
        "pulls",
        "wins",
        "best_host",
        (F.col("host") == F.col("best_host")).cast("int").alias("is_best"),
        (F.col("w_best") * F.col("pulls") - F.col("wins") * F.col("n_best")).alias(
            "gap_num"
        ),
        F.expr(
            f"((w_best * pulls - wins * n_best) * {REGRET_PPM})"
            f" DIV (n_best * pulls)"
        ).alias("mean_gap_ppm"),
    )


O_UCB_REGRET_AUDIT = f"""
WITH per AS (
  SELECT event_id % {UCB_HOSTS} AS host,
         CASE WHEN substring(md5('ucb:' || cast(event_id as varchar)), 1, 1)
                IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE 0 END AS w
  FROM events),
agg AS (
  SELECT host, cast(count(*) as bigint) AS pulls,
         cast(sum(w) as bigint) AS wins
  FROM per GROUP BY host),
best AS (
  SELECT host AS best_host, pulls AS n_best, wins AS w_best
  FROM agg
  ORDER BY cast(wins as double) / cast(pulls as double) DESC, host ASC
  LIMIT 1)
SELECT host, pulls, wins, best_host,
       cast(CASE WHEN host = best_host THEN 1 ELSE 0 END as int) AS is_best,
       w_best * pulls - wins * n_best AS gap_num,
       ((w_best * pulls - wins * n_best) * {REGRET_PPM})
         // (n_best * pulls) AS mean_gap_ppm
FROM agg, best
"""


# ---------------------------------- directed link reciprocity (5u)

RECIP_PPM = 1_000_000
RECIP_MIN_LINKS = 1  # unlike host_components, a single link counts:
                     # reciprocity asks IF the back-edge exists at all


def q_link_reciprocity(spark: SparkSession, sf: str) -> DataFrame:
    """Reciprocity of the DIRECTED host link graph discovered by one
    round's fetches: for every source host, how many distinct target
    hosts it links (>= RECIP_MIN_LINKS links per pair — a single link
    counts here, unlike host_components' >= 2 contract: reciprocity
    asks whether the back-edge EXISTS), how many of those targets
    link BACK, and the reciprocity
    in integer ppm. The undirected tiers (components, triangles,
    cores) deliberately symmetrize; reciprocity is the signal that
    symmetrization erases — mutual-linking communities vs one-way
    aggregator/directory hosts — and is the host-graph analog of the
    reference's follower/friend mutuality stats (SURVEY §2 S5/S6:
    follower-edge vs friend-edge scans; usersimilarity's mutual
    fractions).

    100 TB shape: directed pairs pre-aggregate map-side from the
    outlink expansion (billions of links -> millions of host pairs,
    the host_components discipline); the reciprocal probe is ONE
    self-join of the pair table on the swapped key (pair-key
    exchange), then a groupBy(src). Nothing touches adjacency lists.
    """
    _, plan = _plan(spark, sf)
    links = discover_outlinks_anchored(fetch_results(plan), N_HOSTS)
    src = F.substring("src_host", 2, 10).cast("long")
    dst = F.regexp_extract("url", r"^https://h(\d+)\.", 1).cast("long")
    pairs = (
        links.groupBy(src.alias("a"), dst.alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .where((F.col("n") >= RECIP_MIN_LINKS) & (F.col("a") != F.col("b")))
        .select("a", "b")
    )
    rev = pairs.select(F.col("b").alias("a"), F.col("a").alias("b")).withColumn(
        "has_rev", F.lit(1).cast("long")
    )
    flagged = pairs.join(rev, ["a", "b"], "left").fillna({"has_rev": 0})
    agg = flagged.groupBy(F.col("a").alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("n_out"),
        F.sum("has_rev").alias("n_reciprocal"),
    )
    return agg.withColumn(
        "recip_ppm", F.expr(f"(n_reciprocal * {RECIP_PPM}) DIV n_out")
    )


def _build_o_reciprocity() -> str:
    n_out = f"(({_stream('u', docspec._S_NOUT)}) % 4)::BIGINT"
    th = f"(({_stream('u', docspec._S_OUTHOST, 'j')}) % {N_HOSTS})::BIGINT"
    return f"""
WITH {_SQL_PLAN_BASE},
st AS (SELECT host AS src_host, (url_hash)::HUGEINT AS u FROM plan),
st2 AS (SELECT *, ({_stream('u', docspec._S_STATUS)}) % 100 AS r100 FROM st),
ok AS (SELECT src_host, u, {n_out} AS nout FROM st2 WHERE r100 < 88),
lj AS (SELECT src_host, u, unnest(range(0, nout)) AS j FROM ok),
dlinks AS (
  SELECT cast(substring(src_host, 2) as bigint) AS a, {th} AS b FROM lj),
pairs AS (
  SELECT a, b FROM (SELECT a, b, count(*) AS n FROM dlinks GROUP BY a, b)
  WHERE n >= {RECIP_MIN_LINKS} AND a <> b),
flagged AS (
  SELECT p.a, CASE WHEN r.a IS NOT NULL THEN 1 ELSE 0 END AS has_rev
  FROM pairs p LEFT JOIN pairs r ON r.a = p.b AND r.b = p.a)
SELECT a AS host, cast(count(*) as bigint) AS n_out,
       cast(sum(has_rev) as bigint) AS n_reciprocal,
       (cast(sum(has_rev) as bigint) * {RECIP_PPM})
         // cast(count(*) as bigint) AS recip_ppm
FROM flagged GROUP BY a
"""


O_LINK_RECIPROCITY = _build_o_reciprocity()


# ------------------------------------- edge triangle support (5u)

TRUSS_K = 1  # support threshold for the 2-truss candidate flag


def q_edge_support(spark: SparkSession, sf: str) -> DataFrame:
    """Per-EDGE triangle support over the host graph — the quantity
    k-truss peeling iterates on (Cohen 2008) and the edge-level
    complement of triangle_hosts' node counts: for every undirected
    edge (u, v), the number of triangles it participates in (=
    |N(u) & N(v)|), the endpoint degrees, and the edge clustering
    ratio support/(min(du,dv)-1) in integer ppm (the fraction of the
    weaker endpoint's OTHER edges that close over this one). Crawl
    use: zero-support edges crossing between dense regions are
    bridge-like (drop them and communities separate — the
    host_robustness reading at edge granularity); high-support edges
    are intra-community and safe to deprioritize for discovery.

    100 TB shape: support comes from the SAME oriented wedge-join
    pipeline as triangle_counts — (degree, id) orientation bounds
    wedge fan-out at O(sqrt(m)); each closed triangle contributes its
    three edges via a bounded explode into one pair-key groupBy; the
    degree decoration is two node-key broadcasts/joins. No adjacency
    lists, no per-node sets."""
    edges = _tri_edges(_t(spark, sf, "documents"))
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionByName(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    e = edges.join(
        deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u"
    ).join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    ori = e.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("x"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("y"),
    )
    w1, w2 = ori.alias("w1"), ori.alias("w2")
    wedges = w1.join(
        w2, (F.col("w1.x") == F.col("w2.x")) & (F.col("w1.y") < F.col("w2.y"))
    ).select(
        F.col("w1.x").alias("apex"), F.col("w1.y").alias("b"), F.col("w2.y").alias("c")
    )
    canon = edges.select(F.col("u").alias("cb"), F.col("v").alias("cc"))
    tris = wedges.join(
        canon,
        (F.least("b", "c") == F.col("cb")) & (F.greatest("b", "c") == F.col("cc")),
    ).select("apex", "b", "c")
    tri_edges = tris.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("apex", "b").alias("eu"), F.greatest("apex", "b").alias("ev")
                ),
                F.struct(
                    F.least("apex", "c").alias("eu"), F.greatest("apex", "c").alias("ev")
                ),
                F.struct(
                    F.least("b", "c").alias("eu"), F.greatest("b", "c").alias("ev")
                ),
            )
        ).alias("t")
    ).select("t.eu", "t.ev")
    sup = tri_edges.groupBy("eu", "ev").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )
    out = (
        e.join(
            sup,
            (e["u"] == sup["eu"]) & (e["v"] == sup["ev"]),
            "left",
        )
        .fillna({"support": 0})
        .select("u", "v", "du", "dv", "support")
    )
    return out.select(
        "u",
        "v",
        "du",
        "dv",
        "support",
        F.expr(
            f"(support * {RECIP_PPM}) DIV greatest(least(du, dv) - 1, 1)"
        ).alias("edge_cc_ppm"),
        (F.col("support") >= TRUSS_K).cast("int").alias("in_2truss"),
    )


def _build_o_edge_support() -> str:
    return f"""
WITH {_SQL_TRI_EDGES},
deg AS (
  SELECT n, cast(count(*) as bigint) AS d
  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
tri AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM e e1 JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
tedges AS (
  SELECT least(x, y) AS eu, greatest(x, y) AS ev FROM tri
  UNION ALL SELECT least(x, z), greatest(x, z) FROM tri
  UNION ALL SELECT least(y, z), greatest(y, z) FROM tri),
sup AS (
  SELECT eu, ev, cast(count(*) as bigint) AS support
  FROM tedges GROUP BY eu, ev)
SELECT e.u, e.v, du.d AS du, dv.d AS dv,
       coalesce(sup.support, 0) AS support,
       (coalesce(sup.support, 0) * {RECIP_PPM})
         // greatest(least(du.d, dv.d) - 1, 1) AS edge_cc_ppm,
       cast(CASE WHEN coalesce(sup.support, 0) >= {TRUSS_K}
            THEN 1 ELSE 0 END as int) AS in_2truss
FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
LEFT JOIN sup ON sup.eu = e.u AND sup.ev = e.v
"""


O_EDGE_SUPPORT = _build_o_edge_support()


# ------------------------------------ skyline (Pareto) hosts (5v)


def q_skyline_hosts(spark: SparkSession, sf: str) -> DataFrame:
    """Skyline (Pareto-front) operator over host priority signals —
    the classic Borzsony/Kossmann/Stocker 2001 DB operator, absent
    from vanilla Spark: a host is ON the skyline of (degree, n_tri)
    iff no other host weakly dominates it (>= on both, > on one).
    Where topk_overlap_curve asks how two TOTAL orders agree, the
    skyline gives the scheduler the undominated SET — the hosts that
    are optimal under SOME monotone weighting of the signals, i.e.
    the only defensible budget-priority candidates without committing
    to a weight vector. Output per host: the two signals, the number
    of dominators (0 = skyline member), and the flag.

    100 TB shape: the dominance test here is the all-pairs
    block-nested form over HOSTS (bounded cardinality, the scheduler
    rank-tail regime; at 10^7+ hosts production pre-filters with the
    standard sort-first pass — anything dominated by the (deg+tri)
    sort head drops before pairing — and samples, same
    calibration-on-a-sample discipline as the other audit tiers).
    The pair join is one exchange; the dominator count is a node-key
    rollup. Reference analog: multi-criteria crawl ordering (SURVEY
    §2 O1/O4: priority vs tracking order) without a fixed weight."""
    from .operators.graph import triangle_counts

    sig = triangle_counts(_tri_edges(_t(spark, sf, "documents"))).select(
        "node", "degree", "n_tri"
    )
    a, b = sig.alias("a"), sig.alias("b")
    dominated = (
        a.join(
            b,
            (F.col("b.degree") >= F.col("a.degree"))
            & (F.col("b.n_tri") >= F.col("a.n_tri"))
            & (
                (F.col("b.degree") > F.col("a.degree"))
                | (F.col("b.n_tri") > F.col("a.n_tri"))
            ),
        )
        .groupBy(F.col("a.node").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_dominators"))
    )
    return (
        sig.join(dominated, "node", "left")
        .fillna({"n_dominators": 0})
        .select(
            "node",
            "degree",
            "n_tri",
            "n_dominators",
            (F.col("n_dominators") == 0).cast("int").alias("on_skyline"),
        )
    )


def _build_o_skyline() -> str:
    return f"""
WITH {_SQL_TRI_EDGES},
deg AS (
  SELECT n, count(*) AS d
  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
tri AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM e e1 JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
cnt AS (
  SELECT n, count(*) AS n_tri
  FROM (SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri)
  GROUP BY n),
sig AS (
  SELECT deg.n AS node, cast(deg.d as bigint) AS degree,
         cast(coalesce(cnt.n_tri, 0) as bigint) AS n_tri
  FROM deg LEFT JOIN cnt ON cnt.n = deg.n
  WHERE deg.d >= 2),
dom AS (
  SELECT a.node, cast(count(*) as bigint) AS n_dominators
  FROM sig a JOIN sig b
    ON b.degree >= a.degree AND b.n_tri >= a.n_tri
   AND (b.degree > a.degree OR b.n_tri > a.n_tri)
  GROUP BY a.node)
SELECT s.node, s.degree, s.n_tri,
       coalesce(d.n_dominators, 0) AS n_dominators,
       cast(CASE WHEN coalesce(d.n_dominators, 0) = 0 THEN 1 ELSE 0 END as int)
         AS on_skyline
FROM sig s LEFT JOIN dom d ON d.node = s.node
"""


O_SKYLINE_HOSTS = _build_o_skyline()


# ----------------------- greedy max-coverage seed selection (5w)

SEED_K = 4


def q_seed_coverage_greedy(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy max-coverage seed selection over the host graph — the
    submodular seed-list optimizer ball2_hosts pointed at: pick
    SEED_K hosts one at a time, each maximizing the number of NOT-YET
    -COVERED hosts in its closed 1-hop neighborhood N[v] (ties to the
    lower id). Greedy is the canonical algorithm here (Nemhauser/
    Wolsey/Fisher 1978: within 1-1/e of the optimal coverage for any
    submodular objective), and 'which K seeds reach the most of the
    web in one hop' is exactly the crawl seed-list question. Output
    per iteration: the pick, its marginal gain, and the cumulative
    coverage — all exact integers.

    100 TB shape: each greedy round is one anti-join of the coverage
    pair list (node, covered-node) against the covered set (node-key
    exchange), a gain groupBy, and a bounded argmax; the covered set
    grows by at most max-degree+1 per round and rides a broadcast.
    SEED_K is a small constant, driver-iterated like kmeans/WL with
    the covered frame checkpointed lazily. Production note: at 10^7+
    hosts the exact argmax stays cheap (it is one ordered head over
    the gain aggregate); what grows is the pair list — the same
    contracted host-graph scale every other graph tier here runs on.
    Reference analog: choosing twAwler's seed accounts to maximize
    first-round follower reach (SURVEY §7 seed-list discussion)."""
    edges = _tri_edges(_t(spark, sf, "documents"))
    dirs = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    nodes = dirs.select(F.col("a").alias("n")).distinct()
    cover = dirs.select(F.col("a").alias("v"), F.col("b").alias("w")).unionAll(
        nodes.select(F.col("n").alias("v"), F.col("n").alias("w"))
    ).distinct()
    # The greedy ran K driver rounds of anti-join + gain aggregate +
    # top-1 sort + two checkpoints, and `cover`'s md5 projection +
    # distinct lineage was re-evaluated by every round's two consumers
    # (~8 recomputes). The contracted host graph is bounded by design
    # (TRI_PERIPHERY + TRI_HUBS nodes), so all K rounds run exactly in
    # ONE vectorized task over the gathered pair list (guide §4.2 — the
    # same bounded-fixture treatment as the percolation grid): gain =
    # per-v count of uncovered w, pick = max gain with ties to the
    # smallest v (np.unique returns v ascending, argmax takes the
    # first max — the orderBy(gain desc, v asc).limit(1) rule), and a
    # drained gain table ends the loop early exactly like an empty
    # limit(1) did.
    def greedy(batches):
        import numpy as np
        import pandas as pd

        chunks_v, chunks_w = [], []
        for pdf in batches:
            chunks_v.append(pdf["v"].to_numpy(np.int64))
            chunks_w.append(pdf["w"].to_numpy(np.int64))
        out = {"iteration": [], "seed": [], "gain": [], "cum_covered": []}
        if chunks_v:
            v = np.concatenate(chunks_v)
            w = np.concatenate(chunks_w)
            covered = np.empty(0, dtype=np.int64)
            cum = 0
            for it in range(1, SEED_K + 1):
                alive = ~np.isin(w, covered)
                if not alive.any():
                    break
                uniq, counts = np.unique(v[alive], return_counts=True)
                i = int(np.argmax(counts))
                seed, gain = int(uniq[i]), int(counts[i])
                covered = np.concatenate(
                    [covered, w[alive & (v == seed)]]
                )
                cum += gain
                out["iteration"].append(it)
                out["seed"].append(seed)
                out["gain"].append(gain)
                out["cum_covered"].append(cum)
        yield pd.DataFrame(out)

    return cover.repartition(1).mapInPandas(
        greedy,
        schema="iteration long, seed long, gain long, cum_covered long",
    )


def _build_o_seed_greedy() -> str:
    rounds = []
    prev_cov = None
    for t in range(1, SEED_K + 1):
        cov_filter = (
            f"WHERE w NOT IN (SELECT w FROM cov{t - 1})" if prev_cov else ""
        )
        rounds.append(
            f"""g{t} AS (
  SELECT v, cast(count(*) as bigint) AS gain
  FROM cover {cov_filter}
  GROUP BY v),
p{t} AS (
  SELECT cast({t} as bigint) AS iteration, v AS seed, gain
  FROM g{t} ORDER BY gain DESC, v ASC LIMIT 1),
cov{t} AS (
  SELECT w FROM cover WHERE v = (SELECT seed FROM p{t})
  {"UNION SELECT w FROM cov" + str(t - 1) if prev_cov else ""})"""
        )
        prev_cov = f"cov{t}"
    chain = ",\n".join(rounds)
    picks = " UNION ALL ".join(f"SELECT * FROM p{t}" for t in range(1, SEED_K + 1))
    return f"""
WITH {_SQL_TRI_EDGES},
dirs AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
nodes AS (SELECT DISTINCT a AS n FROM dirs),
cover AS (
  SELECT DISTINCT v, w FROM (
    SELECT a AS v, b AS w FROM dirs
    UNION ALL SELECT n, n FROM nodes)),
{chain},
picks AS ({picks})
SELECT iteration, seed, gain,
       cast(sum(gain) OVER (ORDER BY iteration
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint)
         AS cum_covered
FROM picks
"""


O_SEED_COVERAGE_GREEDY = _build_o_seed_greedy()


# ------------------------------- fetch-timeout sweep (5w)

TMO_HOSTS = 12
TMO_VALUE_MOD = 200_000  # latency fixture modulus (us)
TMO_GRID = (50_000, 100_000, 150_000, 200_000)
TMO_PPM = 1_000_000


def q_timeout_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Timeout-grid tradeoff study per host: for each candidate fetch
    timeout T, how many fetches would be KILLED (latency > T) and how
    much fetcher time is SPENT (sum of min(latency, T)) — the design
    curve behind host_ewma_latency's adaptive cap and
    host_latency_quantiles' percentiles: a scheduler picks T where
    the loss ppm crosses its SLO, and this query gives the exact
    discrete curve instead of an assumed distribution. All integers:
    latencies are the deterministic md5 fixture, the grid is a
    4-value broadcast, loss is a count and spend is a sum of mins.

    100 TB shape: |grid| x fetch-log rows expand map-side from a
    broadcast grid (grid is a literal constant), one partial-
    aggregated groupBy(host, timeout), |hosts|*|grid| output rows.
    The production form runs on the per-host latency HISTOGRAM
    (hdr_quantiles' bucket rows) instead of the raw log — same
    arithmetic over 64*octaves bucket rows per host."""
    e = _t(spark, sf, "events")
    lat = (
        F.lit(1)
        + F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("tmo:"), F.col("event_id").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(TMO_VALUE_MOD),
        )
    ).alias("lat")
    base = e.select(F.pmod(F.col("user_id"), F.lit(TMO_HOSTS)).alias("host"), lat)
    grid = spark.createDataFrame(
        [(t,) for t in TMO_GRID], "timeout_us long"
    )
    j = base.crossJoin(F.broadcast(grid))
    return j.groupBy("host", "timeout_us").agg(
        F.count(F.lit(1)).cast("long").alias("n_fetches"),
        F.sum(F.when(F.col("lat") > F.col("timeout_us"), 1).otherwise(0))
        .cast("long")
        .alias("n_lost"),
        F.sum(F.least(F.col("lat"), F.col("timeout_us"))).alias("spent_us"),
    ).withColumn(
        "loss_ppm", F.expr(f"(n_lost * {TMO_PPM}) DIV n_fetches")
    )


O_TIMEOUT_SWEEP = f"""
WITH base AS (
  SELECT user_id % {TMO_HOSTS} AS host,
         1 + ('0x' || substring(md5('tmo:' || cast(event_id as varchar)), 1, 15))
               ::BIGINT % {TMO_VALUE_MOD} AS lat
  FROM events),
grid AS (SELECT unnest([{", ".join(str(t) for t in TMO_GRID)}]) AS timeout_us)
SELECT host, cast(timeout_us as bigint) AS timeout_us,
       cast(count(*) as bigint) AS n_fetches,
       cast(sum(CASE WHEN lat > timeout_us THEN 1 ELSE 0 END) as bigint)
         AS n_lost,
       cast(sum(least(lat, timeout_us)) as bigint) AS spent_us,
       (cast(sum(CASE WHEN lat > timeout_us THEN 1 ELSE 0 END) as bigint)
          * {TMO_PPM}) // cast(count(*) as bigint) AS loss_ppm
FROM base, grid GROUP BY host, timeout_us
"""


# -------------------------- shrunken host success rates (5w)

SHRINK_ALPHA = 2   # Beta(2, 2) prior: pseudo 2 successes / 2 failures
SHRINK_BETA = 2
SHRINK_HOSTS = 40  # host ids 0..39, pull mass ramps linearly with id
SHRINK_PPM = 1_000_000


def q_host_rate_shrunk(spark: SparkSession, sf: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-host fetch success rates —
    the smoothing every scheduler needs before ranking hosts with
    few observations: the raw rate w/n is replaced by the Beta(2,2)
    posterior mean (w+2)/(n+4), pulling small-sample hosts toward
    1/2 while leaving well-observed hosts almost untouched. Emitted
    per host: both rates in exact ppm (floor divisions of exact
    integers — the prior makes the denominator never zero), both
    ranks (deterministic tie-breaks), and the signed rank movement —
    the hosts whose priority the smoothing actually changes. The
    same (host, pulls, wins) mergeable state as the UCB tier.

    100 TB shape: one partial-aggregated groupBy(host) plus two
    bounded-cardinality rank sorts — the scheduler rank-tail regime.
    Reference analog: rate-limit-aware account ordering under sparse
    history (SURVEY §2 S1/J5), made robust to small n."""
    e = _t(spark, sf, "events")
    win = F.when(
        F.substring(
            F.md5(F.concat(F.lit("ucb:"), F.col("event_id").cast("string"))), 1, 1
        ).isin("1", "3", "5", "7", "9", "b", "d", "f"),
        1,
    ).otherwise(0)
    # SKEWED host assignment (unlike the uniform UCB fixture): host =
    # floor(sqrt(h mod 1600)) puts linearly more pulls on higher host
    # ids, so sparse hosts (n ~ a handful) genuinely exist and the
    # shrinkage reorders them — a uniform fixture would make raw and
    # shrunk ranks identical (monotone transform at constant n).
    # floor(sqrt) is exact here: arguments < 1600, perfect squares are
    # exactly representable and non-squares are nowhere near a double
    # rounding boundary.
    hh = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("hrs:"), F.col("event_id").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long"),
        F.lit(SHRINK_HOSTS * SHRINK_HOSTS),
    )
    host = F.floor(F.sqrt(hh.cast("double"))).cast("long")
    agg = (
        e.select(host.alias("host"), win.alias("w"))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("pulls"),
            F.sum("w").cast("long").alias("wins"),
        )
    )
    raw = F.expr(f"(wins * {SHRINK_PPM}) DIV pulls")
    shr = F.expr(
        f"((wins + {SHRINK_ALPHA}) * {SHRINK_PPM})"
        f" DIV (pulls + {SHRINK_ALPHA + SHRINK_BETA})"
    )
    scored = agg.withColumn("raw_ppm", raw).withColumn("shrunk_ppm", shr)
    rank_raw = F.row_number().over(
        Window.orderBy(F.col("raw_ppm").desc(), F.col("host").asc())
    )
    rank_shr = F.row_number().over(
        Window.orderBy(F.col("shrunk_ppm").desc(), F.col("host").asc())
    )
    return (
        scored.withColumn("rank_raw", rank_raw.cast("long"))
        .withColumn("rank_shrunk", rank_shr.cast("long"))
        .withColumn("rank_moved", F.col("rank_raw") - F.col("rank_shrunk"))
    )


O_HOST_RATE_SHRUNK = f"""
WITH per AS (
  SELECT cast(floor(sqrt((('0x' || substring(md5('hrs:' || cast(event_id as varchar)), 1, 15))
                            ::BIGINT % {SHRINK_HOSTS * SHRINK_HOSTS})::double)) as bigint)
           AS host,
         CASE WHEN substring(md5('ucb:' || cast(event_id as varchar)), 1, 1)
                IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE 0 END AS w
  FROM events),
agg AS (
  SELECT host, cast(count(*) as bigint) AS pulls,
         cast(sum(w) as bigint) AS wins
  FROM per GROUP BY host),
scored AS (
  SELECT *,
         (wins * {SHRINK_PPM}) // pulls AS raw_ppm,
         ((wins + {SHRINK_ALPHA}) * {SHRINK_PPM})
           // (pulls + {SHRINK_ALPHA + SHRINK_BETA}) AS shrunk_ppm
  FROM agg)
SELECT host, pulls, wins, raw_ppm, shrunk_ppm,
       cast(row_number() OVER (ORDER BY raw_ppm DESC, host ASC) as bigint)
         AS rank_raw,
       cast(row_number() OVER (ORDER BY shrunk_ppm DESC, host ASC) as bigint)
         AS rank_shrunk,
       cast(row_number() OVER (ORDER BY raw_ppm DESC, host ASC) as bigint)
         - cast(row_number() OVER (ORDER BY shrunk_ppm DESC, host ASC) as bigint)
         AS rank_moved
FROM scored
"""


# ------------------------------ modularity of the CC partition (5x)

MODQ_PPM = 1_000_000


def q_modularity_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Newman modularity of the connected-component partition of the
    host graph — computed EXACTLY: with m undirected edges, community
    internal-edge counts e_c and degree sums d_c, Q * 4m^2 =
    sum_c (4m*e_c - d_c^2) is an exact BIGINT (for the CC partition
    every edge is internal, so the sum is 4m^2 - sum d_c^2 >= 0 and
    the ppm division is a floor division of non-negatives). Per
    community: size, internal edges, degree mass, and the exact
    contribution; the global Q in ppm rides every row. Crawl use: Q
    near zero says the islands partition carries no real structure
    (one giant component dominates — crawl everything from any seed);
    high Q says the component split IS the community structure and
    per-island seed budgets matter. Companion of host_components
    (which finds the partition) and host_robustness (which stresses
    it).

    100 TB shape: components come from the audited large-star/
    small-star CC operator; the per-community aggregates are two
    node-key/pair-key partial aggregations; the global constants (m,
    sum of contributions) are 1-row broadcasts. Reference analog:
    community-quality scoring over the follower graph (SURVEY §2
    graph tier), made exact."""
    from .operators.dedup import connected_components

    edges = _tri_edges(_t(spark, sf, "documents"))
    cc = connected_components(edges, "u", "v")
    nodes = (
        edges.select(F.col("u").alias("n"))
        .unionByName(edges.select(F.col("v").alias("n")))
        .distinct()
    )
    memb = nodes.join(cc, nodes["n"] == cc["node"], "left").select(
        "n", F.coalesce("component", F.col("n")).alias("comp")
    )
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionByName(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    dmass = (
        memb.join(deg, "n")
        .groupBy("comp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("d").alias("d_mass"),
        )
    )
    eint = (
        edges.join(memb.select(F.col("n").alias("u"), F.col("comp").alias("cu")), "u")
        .join(memb.select(F.col("n").alias("v"), F.col("comp").alias("cv")), "v")
        .where(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("comp"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_int"))
    )
    m_row = edges.agg(F.count(F.lit(1)).cast("long").alias("m"))
    per = (
        dmass.join(eint, "comp", "left")
        .fillna({"e_int": 0})
        .crossJoin(F.broadcast(m_row))
        .withColumn(
            "contrib",
            F.lit(4).cast("long") * F.col("m") * F.col("e_int")
            - F.col("d_mass") * F.col("d_mass"),
        )
    )
    tot = per.agg(F.sum("contrib").alias("q_num"))
    return per.crossJoin(F.broadcast(tot)).select(
        "comp",
        "n_nodes",
        "e_int",
        "d_mass",
        "contrib",
        F.expr(f"(q_num * {MODQ_PPM}) DIV (4 * m * m)").alias("q_ppm"),
    )


def _build_o_modularity() -> str:
    return f"""
WITH RECURSIVE {_SQL_TRI_EDGES},
und AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM und)
  UNION
  SELECT r.u, x.v FROM reach r JOIN und x ON r.v = x.u),
memb AS (SELECT u AS n, min(v) AS comp FROM reach GROUP BY u),
deg AS (
  SELECT n, cast(count(*) as bigint) AS d
  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
dmass AS (
  SELECT comp, cast(count(*) as bigint) AS n_nodes,
         cast(sum(d) as bigint) AS d_mass
  FROM memb JOIN deg ON deg.n = memb.n GROUP BY comp),
eint AS (
  SELECT mu.comp, cast(count(*) as bigint) AS e_int
  FROM e JOIN memb mu ON mu.n = e.u JOIN memb mv ON mv.n = e.v
  WHERE mu.comp = mv.comp GROUP BY mu.comp),
mrow AS (SELECT cast(count(*) as bigint) AS m FROM e),
per AS (
  SELECT d.comp, d.n_nodes, coalesce(i.e_int, 0) AS e_int, d.d_mass,
         4 * mrow.m * coalesce(i.e_int, 0) - d.d_mass * d.d_mass AS contrib,
         mrow.m
  FROM dmass d LEFT JOIN eint i ON i.comp = d.comp, mrow),
tot AS (SELECT cast(sum(contrib) as bigint) AS q_num FROM per)
SELECT comp, n_nodes, e_int, d_mass, contrib,
       (tot.q_num * {MODQ_PPM}) // (4 * per.m * per.m) AS q_ppm
FROM per, tot
"""


O_MODULARITY_AUDIT = _build_o_modularity()


# ---------------------------------- crawl yield by rank decile (5x)

YIELD_PPM = 1_000_000
YIELD_BUCKETS = 10


def q_crawl_yield_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Diminishing-returns curve of the round's OWN schedule: bucket
    scheduled URLs by their within-host fetch rank into deciles and
    measure the realized document yield of each decile (docs fetched
    per URL scheduled, integer ppm) plus the dead-fetch share. This
    is the scheduler's economics audit — if the deep deciles yield a
    fraction of the head, the per-host budget should shrink; if the
    curve is flat, budget is leaving docs on the table. Runs entirely
    on the engine's fetch surface (the same plan + synthesis chain
    the crawl_round_* oracles pin), so the curve is THE one the
    production round would see.

    100 TB shape: rank deciles come free from the plan's existing
    budget-rank column (no extra window); the doc counts partial-
    aggregate per url_hash then per decile — two bounded exchanges on
    keys the round already shuffles. Reference analog: per-account
    page-depth yield in the reference's timeline crawler (how many
    new tweets the Nth page returns — dumpall's since_id paging),
    re-keyed to rank deciles."""
    _, plan = _plan(spark, sf)
    docs = fetch_documents(plan, ROUND_NO).dropDuplicates(["doc_id"])
    per_url = docs.groupBy("url_hash").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    ranked = plan.select(
        "url_hash",
        F.least(
            F.lit(YIELD_BUCKETS - 1).cast("long"),
            (F.col("fetch_rank") - 1).cast("long"),
        ).alias("decile"),
    )
    j = ranked.join(per_url, "url_hash", "left").fillna({"n_docs": 0})
    return j.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_scheduled"),
        F.sum("n_docs").alias("n_docs"),
        F.sum(F.when(F.col("n_docs") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_yieldless"),
    ).withColumn(
        "yield_ppm", F.expr(f"(n_docs * {YIELD_PPM}) DIV n_scheduled")
    ).withColumn(
        "dead_ppm", F.expr(f"(n_yieldless * {YIELD_PPM}) DIV n_scheduled")
    )


def _build_o_yield() -> str:
    return f"""
WITH {_SQL_PLAN_BASE},
st AS (SELECT url_hash, fetch_rank, (url_hash)::HUGEINT AS u FROM plan),
st2 AS (SELECT *, ({_stream('u', docspec._S_STATUS)}) % 100 AS r100 FROM st),
nd AS (
  SELECT url_hash, fetch_rank,
         CASE WHEN r100 < 88
              THEN (1 + ({_stream('u', docspec._S_NDOCS)}) % 4)::BIGINT
              ELSE 0 END AS n_docs
  FROM st2),
yrank AS (
  SELECT least({YIELD_BUCKETS - 1}, fetch_rank - 1)::BIGINT AS decile,
         n_docs
  FROM nd)
SELECT decile,
       cast(count(*) as bigint) AS n_scheduled,
       cast(sum(n_docs) as bigint) AS n_docs,
       cast(sum(CASE WHEN n_docs = 0 THEN 1 ELSE 0 END) as bigint)
         AS n_yieldless,
       (cast(sum(n_docs) as bigint) * {YIELD_PPM})
         // cast(count(*) as bigint) AS yield_ppm,
       (cast(sum(CASE WHEN n_docs = 0 THEN 1 ELSE 0 END) as bigint)
          * {YIELD_PPM}) // cast(count(*) as bigint) AS dead_ppm
FROM yrank GROUP BY decile
"""


O_CRAWL_YIELD_CURVE = _build_o_yield()


# -------------------------- SLO burn-rate alerting (5y)

BURN_HOSTS = 12
BURN_SHORT_H = 1     # short window: 1 hour
BURN_LONG_H = 6      # long window: 6 hours
BURN_SLO_PPM = 400_000   # error-budget SLO: 40% fixture error rate
BURN_FAST = 2        # short-window burn multiple that pages
BURN_SLOW = 1        # long-window burn multiple that must ALSO hold
BURN_PPM = 1_000_000


def q_burn_rate_alerts(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-window burn-rate alerting over the fetch-error stream —
    the SRE-workbook pattern (Beyer et al., ch.5) applied to the
    crawler fleet: a host pages only when BOTH its short-window (1h)
    error rate exceeds BURN_FAST x the SLO budget AND its long-window
    (6h) rate exceeds BURN_SLOW x — the two-window AND is what kills
    flappy alerts (a one-minute spike trips the short window but not
    the long; a slow leak trips the long but pages only while it is
    still burning fast). All comparisons are exact cross-products
    (errors * 1e6 vs multiple * SLO * total), no rate is ever a
    float. Output per (host, anchored short window): counts for both
    windows, both rates in ppm, and the page flag.

    100 TB shape: the short windows partial-aggregate on (host,
    window) — the streaming tier's tumbling-window shape (s3_stream_
    windowed ships the live form); the long window joins 6 short
    partials per key (mergeable counts, the HLL/EWMA checkpoint
    discipline). Reference analog: the reference's rate-limit /
    error-backoff bookkeeping per account (SURVEY §2 S1, A13
    counters), lifted to windowed SLO alerting."""
    e = _t(spark, sf, "events")
    err = F.when(
        F.substring(
            F.md5(F.concat(F.lit("brn:"), F.col("event_id").cast("string"))), 1, 1
        ).isin("1", "3", "5"),
        1,
    ).otherwise(0)
    hours = F.floor(
        F.unix_timestamp(F.col("ts")) / F.lit(3600)
    ).cast("long")
    base = e.select(
        F.pmod(F.col("user_id"), F.lit(BURN_HOSTS)).alias("host"),
        hours.alias("h"),
        err.alias("e"),
    )
    short = base.groupBy("host", "h").agg(
        F.count(F.lit(1)).cast("long").alias("n_short"),
        F.sum("e").cast("long").alias("err_short"),
    )
    # long window anchored at each short window's hour: previous
    # BURN_LONG_H hours inclusive
    s2 = short.select(
        F.col("host").alias("h2"), F.col("h").alias("hh"),
        "n_short", "err_short",
    )
    joined = short.alias("a").join(
        s2.alias("b"),
        (F.col("a.host") == F.col("b.h2"))
        & (F.col("b.hh") <= F.col("a.h"))
        & (F.col("b.hh") > F.col("a.h") - BURN_LONG_H),
    ).groupBy(F.col("a.host").alias("host"), F.col("a.h").alias("h")).agg(
        F.max(F.when(F.col("b.hh") == F.col("a.h"), F.col("b.n_short"))).alias(
            "n_short"
        ),
        F.max(F.when(F.col("b.hh") == F.col("a.h"), F.col("b.err_short"))).alias(
            "err_short"
        ),
        F.sum("b.n_short").alias("n_long"),
        F.sum("b.err_short").alias("err_long"),
    )
    page = (
        (
            F.col("err_short") * F.lit(BURN_PPM).cast("long")
            > F.lit(BURN_FAST * BURN_SLO_PPM).cast("long") * F.col("n_short")
        )
        & (
            F.col("err_long") * F.lit(BURN_PPM).cast("long")
            > F.lit(BURN_SLOW * BURN_SLO_PPM).cast("long") * F.col("n_long")
        )
    )
    return joined.select(
        "host",
        "h",
        "n_short",
        "err_short",
        "n_long",
        "err_long",
        F.expr(f"(err_short * {BURN_PPM}) DIV n_short").alias("rate_short_ppm"),
        F.expr(f"(err_long * {BURN_PPM}) DIV n_long").alias("rate_long_ppm"),
        page.cast("int").alias("paged"),
    )


O_BURN_RATE_ALERTS = f"""
WITH base AS (
  SELECT user_id % {BURN_HOSTS} AS host,
         cast(floor(epoch(ts) / 3600) as bigint) AS h,
         CASE WHEN substring(md5('brn:' || cast(event_id as varchar)), 1, 1)
                IN ('1','3','5') THEN 1 ELSE 0 END AS e
  FROM events),
short AS (
  SELECT host, h, cast(count(*) as bigint) AS n_short,
         cast(sum(e) as bigint) AS err_short
  FROM base GROUP BY host, h),
joined AS (
  SELECT a.host, a.h,
         max(CASE WHEN b.h = a.h THEN b.n_short END) AS n_short,
         max(CASE WHEN b.h = a.h THEN b.err_short END) AS err_short,
         cast(sum(b.n_short) as bigint) AS n_long,
         cast(sum(b.err_short) as bigint) AS err_long
  FROM short a JOIN short b
    ON b.host = a.host AND b.h <= a.h AND b.h > a.h - {BURN_LONG_H}
  GROUP BY a.host, a.h)
SELECT host, h, n_short, err_short, n_long, err_long,
       (err_short * {BURN_PPM}) // n_short AS rate_short_ppm,
       (err_long * {BURN_PPM}) // n_long AS rate_long_ppm,
       cast(CASE WHEN err_short * {BURN_PPM}
                      > {BURN_FAST * BURN_SLO_PPM} * n_short
                  AND err_long * {BURN_PPM}
                      > {BURN_SLOW * BURN_SLO_PPM} * n_long
            THEN 1 ELSE 0 END as int) AS paged
FROM joined
"""


# ---------------------- max-min fair budget allocation (5y)

MMF_HOSTS = 24
MMF_BUDGET = 600
MMF_DEMAND_MOD = 97


def q_maxmin_budget_alloc(spark: SparkSession, sf: str) -> DataFrame:
    """Max-min fair (water-filling) allocation of a global fetch
    budget across hosts with heterogeneous demands — the ALLOCATOR
    that sched_fairness measures after the fact: find the largest
    integer fill level L with sum(min(demand_h, L)) <= B, give every
    host min(demand_h, L), then hand the B - sum remaining seats one
    each to the lowest-id still-capped hosts (the Hamilton-style
    integer remainder, so the budget is spent EXACTLY). Max-min
    fairness is the classic answer to 'no host starves, no host
    hogs' (Bertsekas/Gallager §6.5.2); the emitted capped flag marks
    the hosts whose demand exceeded the fair level — the ones a
    bigger budget would actually help. Everything is exact integer
    arithmetic over prefix sums.

    100 TB shape: demands partial-aggregate per host; the fill level
    comes from a prefix-sum scan over the DEMAND-SORTED host list
    (bounded cardinality — the scheduler rank tail); the allocation
    is then map-side. At 10^7 hosts the sorted scan is still one
    bounded shuffle — demands, not documents. Reference analog: the
    per-account rate budget split of the reference's crawler fleet
    (SURVEY §2 J5 budget claim), made max-min fair."""
    e = _t(spark, sf, "events")
    # one md5 draw PER HOST (not per event): a per-event max would
    # saturate at the modulus for every host and collapse the demand
    # vector to a constant
    demand = (
        e.select(F.pmod(F.col("event_id"), F.lit(MMF_HOSTS)).alias("host"))
        .distinct()
        .select(
            "host",
            (
                F.lit(1)
                + F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.lit("mmf:"), F.col("host").cast("string"))),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long"),
                    F.lit(MMF_DEMAND_MOD),
                )
            ).alias("demand"),
        )
    )
    w_all = Window.orderBy(F.col("demand").asc(), F.col("host").asc())
    srt = demand.withColumn("rk", F.row_number().over(w_all)).withColumn(
        "cum", F.sum("demand").over(w_all.rowsBetween(Window.unboundedPreceding, 0))
    )
    n_row = srt.agg(F.count(F.lit(1)).cast("long").alias("n_hosts"))
    # fill level candidates: for each sorted host k, if level == its
    # demand, spent = cum_k + demand_k * (n - k). L = the largest
    # integer level with spend <= B: compute the best base level from
    # the candidate below, then extend arithmetically.
    cand = srt.crossJoin(F.broadcast(n_row)).withColumn(
        "spend_at_demand",
        F.col("cum") + F.col("demand") * (F.col("n_hosts") - F.col("rk")),
    )
    feas = cand.where(F.col("spend_at_demand") <= MMF_BUDGET).select(
        F.col("demand").alias("l0"),
        F.col("cum").alias("cum0"),
        F.col("rk").alias("rk0"),
        F.col("n_hosts"),
    )
    # virtual level-0 candidate: always feasible, covers the
    # budget-starved regime where even min(demand) * n exceeds B (the
    # fill level then sits BELOW every demand: L = B DIV n)
    virtual = n_row.select(
        F.lit(0).cast("long").alias("l0"),
        F.lit(0).cast("long").alias("cum0"),
        F.lit(0).cast("long").alias("rk0"),
        F.col("n_hosts"),
    )
    base = (
        feas.unionByName(virtual)
        .orderBy(F.col("l0").desc(), F.col("rk0").desc())
        .limit(1)
    )
    # hosts above rk0 all have demand > l0; raise level by
    # (B - spend0) DIV n_above, then distribute the remainder
    lvl = base.select(
        "l0",
        "cum0",
        "rk0",
        "n_hosts",
        (F.col("n_hosts") - F.col("rk0")).alias("n_above"),
        (
            F.lit(MMF_BUDGET).cast("long")
            - (F.col("cum0") + F.col("l0") * (F.col("n_hosts") - F.col("rk0")))
        ).alias("slack"),
    ).select(
        "rk0",
        "n_above",
        F.when(
            F.col("n_above") > 0,
            F.col("l0") + F.expr("slack DIV n_above"),
        )
        .otherwise(F.col("l0"))
        .alias("level"),
        F.when(
            F.col("n_above") > 0, F.expr("slack % n_above")
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("extra"),
    )
    j = srt.crossJoin(F.broadcast(lvl))
    alloc_base = F.least(F.col("demand"), F.col("level"))
    # the `extra` remainder seats go to the lowest-id hosts whose
    # demand exceeds the level (still capped after the base fill)
    w_extra = Window.orderBy(F.col("host").asc())
    capped = j.where(F.col("demand") > F.col("level")).withColumn(
        "extra_rk", F.row_number().over(w_extra)
    ).select(
        F.col("host").alias("xh"),
        (F.col("extra_rk") <= F.col("extra")).cast("long").alias("bonus"),
    )
    out = (
        j.join(capped, j["host"] == capped["xh"], "left")
        .fillna({"bonus": 0})
        .select(
            "host",
            "demand",
            (alloc_base + F.col("bonus")).alias("alloc"),
            (F.col("demand") > F.col("level")).cast("int").alias("capped"),
            F.col("level").cast("long").alias("fill_level"),
        )
    )
    return out


O_MAXMIN_BUDGET_ALLOC = f"""
WITH demand AS (
  SELECT host,
         cast(1 + ('0x' || substring(md5('mmf:' || cast(host as varchar)), 1, 15))
                    ::BIGINT % {MMF_DEMAND_MOD} as bigint) AS demand
  FROM (SELECT DISTINCT event_id % {MMF_HOSTS} AS host FROM events)),
srt AS (
  SELECT *, row_number() OVER (ORDER BY demand ASC, host ASC) AS rk,
         sum(demand) OVER (ORDER BY demand ASC, host ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         count(*) OVER () AS n_hosts
  FROM demand),
feas AS (
  SELECT demand AS l0, cum AS cum0, rk AS rk0, n_hosts FROM srt
  WHERE cum + demand * (n_hosts - rk) <= {MMF_BUDGET}
  UNION ALL
  SELECT cast(0 as bigint), cast(0 as bigint), cast(0 as bigint),
         (SELECT count(*) FROM demand)),
base AS (
  SELECT l0, cum0, rk0, n_hosts
  FROM feas ORDER BY l0 DESC, rk0 DESC LIMIT 1),
lvl AS (
  SELECT rk0, n_hosts - rk0 AS n_above,
         CASE WHEN n_hosts - rk0 > 0
              THEN l0 + ({MMF_BUDGET} - (cum0 + l0 * (n_hosts - rk0)))
                     // (n_hosts - rk0)
              ELSE l0 END AS level,
         CASE WHEN n_hosts - rk0 > 0
              THEN ({MMF_BUDGET} - (cum0 + l0 * (n_hosts - rk0)))
                     % (n_hosts - rk0)
              ELSE 0 END AS extra
  FROM base),
withlvl AS (SELECT srt.*, lvl.level, lvl.extra FROM srt, lvl),
capped AS (
  SELECT host, row_number() OVER (ORDER BY host ASC) AS extra_rk
  FROM withlvl WHERE demand > level)
SELECT w.host, w.demand,
       cast(least(w.demand, w.level)
         + CASE WHEN c.extra_rk IS NOT NULL AND c.extra_rk <= w.extra
                THEN 1 ELSE 0 END as bigint) AS alloc,
       cast(CASE WHEN w.demand > w.level THEN 1 ELSE 0 END as int) AS capped,
       cast(w.level as bigint) AS fill_level
FROM withlvl w LEFT JOIN capped c ON c.host = w.host
"""


# ------------------------ link-prediction feature build (5y)

LPF_NEG = 60   # md5-drawn negative candidate pairs


def q_link_prediction_features(spark: SparkSession, sf: str) -> DataFrame:
    """Training-data preparation for host-graph link prediction — the
    feature-engineering pass a graph-ML pipeline runs over the crawl
    graph: positives are a deterministic third of the real edges
    ((u*31 + v) % 3 == 0), negatives are LPF_NEG md5-drawn node pairs
    anti-joined against the edge set, and every pair gets the
    classic integer features — common-neighbor count (the
    Liben-Nowell/Kleinberg baseline), the preferential-attachment
    degree product, and the same-component flag (from the audited CC
    operator). No floats anywhere (Adamic-Adar's 1/log(deg) is
    deliberately NOT emitted — its libm surface is exactly what this
    engine's exactness contract excludes; CN and PA are the
    log-free members of that feature family). Labels + features in
    one frame, ready for a split like train_split's hash-mod.

    100 TB shape: negatives expand from a range + broadcast
    node-rank table (map-side); common neighbors are one wedge join
    on the candidate pair's endpoints against the directed edge list
    (the triangle tier's exchange pattern, bounded by the candidate
    count x degree); components come from the already-audited CC
    run. Reference analog: follower-recommendation features over the
    reference's graph (SURVEY §2 J10 similarity tier), packaged as
    labeled training rows."""
    from .operators.dedup import connected_components

    edges = _tri_edges(_t(spark, sf, "documents"))
    dirs = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = dirs.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("d"))
    nodes = deg.select("a").withColumn(
        "rk", F.row_number().over(Window.orderBy(F.col("a").asc())) - 1
    )
    n_nodes = nodes.count()
    pos = edges.where((F.col("u") * 31 + F.col("v")) % 3 == 0).select(
        "u", "v", F.lit(1).cast("int").alias("label")
    )
    ks = spark.range(LPF_NEG).select(F.col("id").cast("long").alias("k"))
    h1 = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("lpn:a:"), F.col("k").cast("string"))), 1, 15),
            16,
            10,
        ).cast("long"),
        F.lit(n_nodes),
    )
    h2 = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("lpn:b:"), F.col("k").cast("string"))), 1, 15),
            16,
            10,
        ).cast("long"),
        F.lit(n_nodes),
    )
    drawn = (
        ks.select(h1.alias("r1"), h2.alias("r2"))
        .join(F.broadcast(nodes.select(F.col("rk").alias("r1"), F.col("a").alias("na"))), "r1")
        .join(F.broadcast(nodes.select(F.col("rk").alias("r2"), F.col("a").alias("nb"))), "r2")
        .where(F.col("na") != F.col("nb"))
        .select(F.least("na", "nb").alias("u"), F.greatest("na", "nb").alias("v"))
        .distinct()
    )
    neg = drawn.join(edges, ["u", "v"], "left_anti").select(
        "u", "v", F.lit(0).cast("int").alias("label")
    )
    cand = pos.unionByName(neg)
    nb = dirs.select(F.col("a").alias("n"), F.col("b").alias("nbr"))
    cn = (
        cand.join(nb.select(F.col("n").alias("u"), F.col("nbr").alias("w1")), "u")
        .join(
            nb.select(F.col("n").alias("v"), F.col("nbr").alias("w2")), "v"
        )
        .where(F.col("w1") == F.col("w2"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("common_neighbors"))
    )
    cc = connected_components(edges, "u", "v")
    comp = cc.select(F.col("node"), F.col("component"))
    out = (
        cand.join(cn, ["u", "v"], "left")
        .fillna({"common_neighbors": 0})
        .join(deg.select(F.col("a").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("a").alias("v"), F.col("d").alias("dv")), "v")
        .join(comp.select(F.col("node").alias("u"), F.col("component").alias("cu")), "u")
        .join(comp.select(F.col("node").alias("v"), F.col("component").alias("cv")), "v")
    )
    return out.select(
        "u",
        "v",
        "label",
        "common_neighbors",
        (F.col("du") * F.col("dv")).alias("deg_product"),
        (F.col("cu") == F.col("cv")).cast("int").alias("same_component"),
    )


def _build_o_lpf() -> str:
    h = lambda tag: (  # noqa: E731
        f"('0x' || substring(md5('lpn:{tag}:' || cast(k as varchar)), 1, 15))::BIGINT"
    )
    return f"""
WITH RECURSIVE {_SQL_TRI_EDGES},
dirs AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
deg AS (SELECT a, cast(count(*) as bigint) AS d FROM dirs GROUP BY a),
nodes AS (
  SELECT a, row_number() OVER (ORDER BY a ASC) - 1 AS rk FROM deg),
nn AS (SELECT cast(count(*) as bigint) AS n_nodes FROM nodes),
pos AS (
  SELECT u, v, cast(1 as int) AS label FROM e
  WHERE (u * 31 + v) % 3 = 0),
ks AS (SELECT unnest(range(0, {LPF_NEG})) AS k),
drawn AS (
  SELECT DISTINCT least(na.a, nb.a) AS u, greatest(na.a, nb.a) AS v
  FROM (SELECT ({h('a')}) % nn.n_nodes AS r1,
               ({h('b')}) % nn.n_nodes AS r2
        FROM ks, nn) dr
  JOIN nodes na ON na.rk = dr.r1
  JOIN nodes nb ON nb.rk = dr.r2
  WHERE na.a <> nb.a),
neg AS (
  SELECT d.u, d.v, cast(0 as int) AS label
  FROM drawn d LEFT JOIN e ON e.u = d.u AND e.v = d.v
  WHERE e.u IS NULL),
cand AS (SELECT * FROM pos UNION ALL SELECT * FROM neg),
cn AS (
  SELECT c.u, c.v, cast(count(*) as bigint) AS common_neighbors
  FROM cand c
  JOIN dirs x ON x.a = c.u
  JOIN dirs y ON y.a = c.v AND y.b = x.b
  GROUP BY c.u, c.v),
und AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM und)
  UNION
  SELECT r.u, x.v FROM reach r JOIN und x ON r.v = x.u),
comp AS (SELECT u AS node, min(v) AS component FROM reach GROUP BY u)
SELECT c.u, c.v, c.label,
       coalesce(cn.common_neighbors, 0) AS common_neighbors,
       du.d * dv.d AS deg_product,
       cast(CASE WHEN cu.component = cv.component THEN 1 ELSE 0 END as int)
         AS same_component
FROM cand c
LEFT JOIN cn ON cn.u = c.u AND cn.v = c.v
JOIN deg du ON du.a = c.u
JOIN deg dv ON dv.a = c.v
JOIN comp cu ON cu.node = c.u
JOIN comp cv ON cv.node = c.v
"""


O_LINK_PREDICTION_FEATURES = _build_o_lpf()


# --------------------------- inter-event timing regularity (5z)

TREG_MIN_EVENTS = 20   # users below this have no stable timing signal
TREG_K = 10            # flag when CV^2 < 1/K (metronome-like cadence)
TREG_BOTS = 3          # planted metronome accounts (negative user ids)
TREG_BOT_EVENTS = 200  # fixture events rewritten into bot cadences


def q_timing_regularity(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user inter-event timing regularity — the single-account
    bot signal complementary to j8_synchrotrap's PAIRWISE lockstep
    detection: automation posts on a metronome (tiny gap variance),
    humans are bursty (CV near or above 1). Computed with NO mean and
    NO float variance: for each user with >= TREG_MIN_EVENTS events,
    the gap moments (n, sum g, sum g^2) are exact BIGINTs, the
    dispersion numerator n*sum(g^2) - (sum g)^2 >= 0 is exact, and
    the metronome flag is the exact cross-product comparison
    K * (n*sum_g2 - sum_g^2) < (sum g)^2  <=>  CV^2 < 1/K. Emitted:
    the moments, the dispersion numerator, CV^2 in ppm (one floor
    division), and the flag.

    100 TB shape: gaps are one lag window inside the (user) partition
    — the same per-key ordered scan as a7/w-family; moments
    partial-aggregate. Reference analog: the reference's bot heuristics
    over posting cadence (SURVEY §2's bot tier, botornot features),
    re-expressed as an exact dispersion test."""
    e = _t(spark, sf, "events")
    # order by the floored second (not raw ts) so same-second ties
    # break identically to the oracle: (s, event_id) in both engines
    w = Window.partitionBy("user_id").orderBy(F.col("s").asc(), F.col("event_id").asc())
    sec = F.unix_timestamp(F.col("ts")).cast("long")
    real = e.select("user_id", "event_id", sec.alias("s"))
    # planted metronome accounts (negative user ids): 600 s cadence
    # with +/-1 s md5 jitter — organic fixture users all sit at
    # CV^2 ~ 1 (Poisson), so without planting, the metronome branch
    # would be vacuous at every SF
    bots = e.where(F.col("event_id") < TREG_BOT_EVENTS).select(
        (-(F.lit(1) + F.pmod(F.col("event_id"), F.lit(TREG_BOTS)))).alias(
            "user_id"
        ),
        F.col("event_id"),
        (
            F.lit(1700000000).cast("long")
            + F.expr(f"(event_id DIV {TREG_BOTS}) * 600")
            + F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("bot:"), F.col("event_id").cast("string"))),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long"),
                F.lit(3),
            )
        ).alias("s"),
    )
    gaps = (
        real.unionByName(bots)
        .withColumn("g", F.col("s") - F.lag("s").over(w))
        .where(F.col("g").isNotNull())
    )
    mom = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("g").alias("sum_g"),
        F.sum(F.col("g") * F.col("g")).alias("sum_g2"),
    ).where(F.col("n_gaps") >= TREG_MIN_EVENTS - 1)
    disp = F.col("n_gaps") * F.col("sum_g2") - F.col("sum_g") * F.col("sum_g")
    return mom.select(
        "user_id",
        "n_gaps",
        "sum_g",
        "sum_g2",
        disp.alias("disp_num"),
        # milli scale, not ppm: disp can reach ~1e15 on month-long
        # fixtures, so *1e6 would overflow int64 (and silently promote
        # to HUGEINT in DuckDB); *1e3 stays within 2^63 in both engines
        F.expr(
            "CASE WHEN sum_g > 0 THEN"
            " ((n_gaps * sum_g2 - sum_g * sum_g) * 1000)"
            " DIV (sum_g * sum_g) ELSE 0 END"
        ).alias("cv2_milli"),
        (
            (F.lit(TREG_K).cast("long") * disp < F.col("sum_g") * F.col("sum_g"))
            .cast("int")
        ).alias("metronome"),
    )


O_TIMING_REGULARITY = f"""
WITH sec AS (
  SELECT user_id, event_id, cast(floor(epoch(ts)) as bigint) AS s
  FROM events
  UNION ALL
  SELECT -(1 + event_id % {TREG_BOTS}) AS user_id, event_id,
         1700000000 + (event_id // {TREG_BOTS}) * 600
           + ('0x' || substring(md5('bot:' || cast(event_id as varchar)), 1, 15))
               ::BIGINT % 3 AS s
  FROM events WHERE event_id < {TREG_BOT_EVENTS}),
gaps AS (
  SELECT user_id,
         s - lag(s) OVER (PARTITION BY user_id ORDER BY s ASC, event_id ASC)
           AS g
  FROM sec),
mom AS (
  SELECT user_id, cast(count(*) as bigint) AS n_gaps,
         cast(sum(g) as bigint) AS sum_g,
         cast(sum(g*g) as bigint) AS sum_g2
  FROM gaps WHERE g IS NOT NULL GROUP BY user_id
  HAVING count(*) >= {TREG_MIN_EVENTS - 1})
SELECT user_id, n_gaps, sum_g, sum_g2,
       n_gaps * sum_g2 - sum_g * sum_g AS disp_num,
       CASE WHEN sum_g > 0
            THEN ((n_gaps * sum_g2 - sum_g * sum_g) * 1000)
                   // (sum_g * sum_g)
            ELSE 0 END AS cv2_milli,
       cast(CASE WHEN {TREG_K} * (n_gaps * sum_g2 - sum_g * sum_g)
                      < sum_g * sum_g
            THEN 1 ELSE 0 END as int) AS metronome
FROM mom
"""


# ------------------------------ outlink locality split (5z)

LOC_PPM = 1_000_000


def q_link_locality(spark: SparkSession, sf: str) -> DataFrame:
    """Internal-vs-external outlink split per source host over the
    round's discovered links: internal links (target == source host)
    are site navigation — they deepen the crawl WITHIN a host budget;
    external links are discovery — they grow the frontier. The
    internal share tells the scheduler which hosts are link FARMS
    (near-zero external), which are HUBS/directories (near-total
    external), and how much frontier growth to expect per fetch from
    each. Exact counts + one ppm floor division per host; the
    discovery yield column (external links per fetched URL) prices
    outlink expansion directly.

    100 TB shape: one map-side classification inside the outlink
    expansion (the target host is a regexp over the URL the expansion
    already carries) into one partial-aggregated groupBy(src_host) —
    strictly cheaper than anchor_text over the same surface.
    Reference analog: the reference's follow-edge expansion rate per
    account (SURVEY §2 S5: how many NEW accounts a crawled account's
    edges reference), re-keyed host-to-host."""
    _, plan = _plan(spark, sf)
    links = discover_outlinks_anchored(fetch_results(plan), N_HOSTS)
    src_n = F.substring("src_host", 2, 10).cast("long")
    dst_n = F.regexp_extract("url", r"^https://h(\d+)\.", 1).cast("long")
    cls = links.select(
        src_n.alias("host"),
        (src_n == dst_n).cast("long").alias("internal"),
    )
    n_fetched = (
        plan.select(F.substring("host", 2, 10).cast("long").alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_urls_fetched"))
    )
    agg = cls.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_links"),
        F.sum("internal").alias("n_internal"),
    )
    return (
        agg.join(n_fetched, "host")
        .withColumn("n_external", F.col("n_links") - F.col("n_internal"))
        .withColumn(
            "internal_ppm", F.expr(f"(n_internal * {LOC_PPM}) DIV n_links")
        )
        .withColumn(
            "discovery_per_fetch_ppm",
            F.expr(f"(n_external * {LOC_PPM}) DIV n_urls_fetched"),
        )
    )


def _build_o_locality() -> str:
    n_out = f"(({_stream('u', docspec._S_NOUT)}) % 4)::BIGINT"
    th = f"(({_stream('u', docspec._S_OUTHOST, 'j')}) % {N_HOSTS})::BIGINT"
    return f"""
WITH {_SQL_PLAN_BASE},
st AS (SELECT host AS src_host, (url_hash)::HUGEINT AS u FROM plan),
st2 AS (SELECT *, ({_stream('u', docspec._S_STATUS)}) % 100 AS r100 FROM st),
ok AS (SELECT src_host, u, {n_out} AS nout FROM st2 WHERE r100 < 88),
lj AS (SELECT src_host, u, unnest(range(0, nout)) AS j FROM ok),
cls AS (
  SELECT cast(substring(src_host, 2) as bigint) AS host,
         CASE WHEN {th} = cast(substring(src_host, 2) as bigint)
              THEN 1 ELSE 0 END AS internal
  FROM lj),
nf AS (
  SELECT cast(substring(host, 2) as bigint) AS host,
         cast(count(*) as bigint) AS n_urls_fetched
  FROM plan GROUP BY 1),
lagg AS (
  SELECT host, cast(count(*) as bigint) AS n_links,
         cast(sum(internal) as bigint) AS n_internal
  FROM cls GROUP BY host)
SELECT a.host, a.n_links, a.n_internal, nf.n_urls_fetched,
       a.n_links - a.n_internal AS n_external,
       (a.n_internal * {LOC_PPM}) // a.n_links AS internal_ppm,
       ((a.n_links - a.n_internal) * {LOC_PPM}) // nf.n_urls_fetched
         AS discovery_per_fetch_ppm
FROM lagg a JOIN nf ON nf.host = a.host
"""


O_LINK_LOCALITY = _build_o_locality()


# ---------------------- Lindley queue-backlog recurrence (6a)

QBL_HOSTS = 12
QBL_ROUNDS = 6
# capacity is DATA-DERIVED: the global mean arrivals per (host, round)
# cell — cells fluctuate around the mean, so overload (backlog grows)
# and drain (backlog hits 0) both occur at every SF by construction;
# a fixed constant would make the queue all-idle at small fixtures


def q_queue_backlog_lindley(spark: SparkSession, sf: str) -> DataFrame:
    """Per-host fetch-queue backlog under a fixed politeness capacity
    — the Lindley recurrence backlog_r = max(0, backlog_{r-1} +
    arrivals_r - capacity), computed NOT as an iterative loop but via
    its exact closed form: with S_r the running sum of
    (arrivals - capacity), backlog_r = S_r - min(0, min_{k<=r} S_k)
    — two window aggregates, no recursion, no driver loop (Lindley
    1952; the max-prefix identity is the standard queueing trick).
    This is the backlog forecast the scheduler consults before
    admitting more URLs for a host: a host whose backlog grows every
    round is under-provisioned at this politeness cap and will starve
    its tail (crawl_backlog measures the standing queue; THIS derives
    its whole trajectory from arrivals alone). All integers; the
    identity backlog == iterative recurrence is pinned by the python
    third implementation.

    100 TB shape: arrivals partial-aggregate on (host, round); both
    windows run inside the host partition over ROUNDS rows (the
    host_ewma shape) — nothing iterative, nothing driver-side.
    Reference analog: rate-limit window queue depth per account
    (SURVEY §2 S1/J5), forecast in closed form."""
    e = _t(spark, sf, "events")
    arr = (
        e.select(
            F.pmod(F.col("user_id"), F.lit(QBL_HOSTS)).alias("host"),
            F.pmod(F.col("event_id"), F.lit(QBL_ROUNDS)).alias("round"),
        )
        .groupBy("host", "round")
        .agg(F.count(F.lit(1)).cast("long").alias("arrivals"))
    )
    cap = e.agg(
        F.expr(f"count(*) DIV {QBL_HOSTS * QBL_ROUNDS}")
        .cast("long")
        .alias("capacity")
    )
    arr = arr.crossJoin(F.broadcast(cap))
    w = Window.partitionBy("host").orderBy("round").rowsBetween(
        Window.unboundedPreceding, 0
    )
    s_run = F.sum(F.col("arrivals") - F.col("capacity")).over(w)
    with_s = arr.withColumn("s_run", s_run)
    min_s = F.min(F.least(F.col("s_run"), F.lit(0).cast("long"))).over(w)
    return with_s.select(
        "host",
        "round",
        "arrivals",
        "capacity",
        (F.col("s_run") - F.least(min_s, F.lit(0).cast("long"))).alias("backlog"),
    )


O_QUEUE_BACKLOG_LINDLEY = f"""
WITH arr AS (
  SELECT user_id % {QBL_HOSTS} AS host,
         event_id % {QBL_ROUNDS} AS round,
         cast(count(*) as bigint) AS arrivals
  FROM events GROUP BY 1, 2),
cap AS (
  SELECT cast(count(*) // {QBL_HOSTS * QBL_ROUNDS} as bigint) AS capacity
  FROM events),
s AS (
  SELECT arr.*, cap.capacity,
         sum(arrivals - cap.capacity) OVER (PARTITION BY host ORDER BY round
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_run
  FROM arr, cap)
SELECT host, round, arrivals, capacity,
       cast(s_run - least(min(least(s_run, 0)) OVER (PARTITION BY host
              ORDER BY round
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
            as bigint) AS backlog
FROM s
"""


# --------------------------- Little's law concurrency audit (6a)

LL_HOSTS = 12
LL_LAT_MOD = 200_000  # per-fetch latency fixture modulus (us)
LL_REPLAY_FACTOR = 30_000  # compressed-replay speedup for pool sizing


def q_littles_law_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Fetcher-pool sizing by Little's law, L = lambda * W: over the
    fixture's observation window, each host's mean in-flight fetch
    concurrency equals its total busy time divided by the window span
    — computed exactly as sum(latency_us) (BIGINT) with the window
    span, emitting L in MILLI-connections via one floor division
    (sum_busy_us * 1000 DIV span_us). The fetcher pool for a host
    needs ceil(L) slots to sustain its arrival rate at its observed
    latency; the emitted slots_needed = (sum_busy*1000 DIV span +
    999) DIV 1000 is that ceiling, exactly. This closes the capacity
    loop: timeout_sweep prices the latency cap, host_ewma tracks its
    drift, Lindley forecasts the backlog — Little's law converts it
    all into POOL SLOTS, the number ops actually provisions.

    100 TB shape: one partial-aggregated groupBy(host) over the
    fetch log plus a 1-row window-span broadcast; |hosts| output
    rows. Reference analog: sizing the reference's parallel crawler
    account pool against rate windows (SURVEY §2 S1 fleet)."""
    e = _t(spark, sf, "events")
    lat = (
        F.lit(1)
        + F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("tmo:"), F.col("event_id").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(LL_LAT_MOD),
        )
    )
    base = e.select(
        F.pmod(F.col("user_id"), F.lit(LL_HOSTS)).alias("host"),
        lat.alias("lat_us"),
        F.unix_timestamp(F.col("ts")).cast("long").alias("s"),
    )
    span = base.agg(
        ((F.max("s") - F.min("s")) * F.lit(1_000_000).cast("long")).alias(
            "span_us"
        )
    )
    agg = base.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_fetches"),
        F.sum("lat_us").alias("busy_us"),
    )
    j = agg.crossJoin(F.broadcast(span))
    # the fixture log is SPARSE (a month of wall time, sub-second
    # latencies), so L is ~3e-5 — emit it at nano scale plus the pool
    # size for a LL_REPLAY_FACTOR x compressed replay (the batch
    # re-crawl case: a month of fetch work replayed in ~minutes needs
    # ceil(L * factor) slots, which straddles 1-2 per host here)
    return j.select(
        "host",
        "n_fetches",
        "busy_us",
        "span_us",
        F.expr("(busy_us * 1000000000) DIV span_us").alias("concurrency_nano"),
        F.expr(
            f"(busy_us * {LL_REPLAY_FACTOR} + span_us - 1) DIV span_us"
        ).alias("replay_slots"),
    )


O_LITTLES_LAW_AUDIT = f"""
WITH base AS (
  SELECT user_id % {LL_HOSTS} AS host,
         1 + ('0x' || substring(md5('tmo:' || cast(event_id as varchar)), 1, 15))
               ::BIGINT % {LL_LAT_MOD} AS lat_us,
         cast(floor(epoch(ts)) as bigint) AS s
  FROM events),
span AS (
  SELECT (max(s) - min(s)) * 1000000 AS span_us FROM base),
agg AS (
  SELECT host, cast(count(*) as bigint) AS n_fetches,
         cast(sum(lat_us) as bigint) AS busy_us
  FROM base GROUP BY host)
SELECT host, n_fetches, busy_us, cast(span.span_us as bigint) AS span_us,
       (busy_us * 1000000000) // span.span_us AS concurrency_nano,
       (busy_us * {LL_REPLAY_FACTOR} + span.span_us - 1) // span.span_us
         AS replay_slots
FROM agg, span
"""


# ----------------------- scalarization sweep vs skyline (6a)

WSW_STEPS = 5  # weight grid k/4 for k = 0..4


def q_weight_sweep_winners(spark: SparkSession, sf: str) -> DataFrame:
    """Scalarization sweep over the two priority signals: for each
    weight k/4 (k = 0..4), the host maximizing k*degree +
    (4-k)*n_tri (integer scores, ties to the lower id) — the
    concrete budget-priority choice under each monotone weighting,
    and the constructive half of the skyline story: every sweep
    winner is Pareto-undominated (a dominator would score at least
    as high on every weight and strictly higher on one), which the
    emitted on_skyline column pins at 1 per row under the driver
    hash. skyline_hosts gives the full candidate SET; this picks the
    actual winners as the weight moves from pure-closure (k=0) to
    pure-degree (k=4), and the number of DISTINCT winners across the
    sweep measures how much the weight choice actually matters.

    100 TB shape: a WSW_STEPS-row broadcast onto the host signature
    table, one argmax per weight over bounded host cardinality, and
    a skyline verification join against the (bounded) dominator
    rollup. Reference analog: SURVEY §2 O1/O4 priority-order
    variants, unified under one sweep."""
    from .operators.graph import triangle_counts

    sig = triangle_counts(_tri_edges(_t(spark, sf, "documents"))).select(
        "node", "degree", "n_tri"
    )
    ks = spark.range(WSW_STEPS).select(F.col("id").cast("long").alias("k"))
    scored = sig.crossJoin(F.broadcast(ks)).withColumn(
        "score", F.col("k") * F.col("degree") + (4 - F.col("k")) * F.col("n_tri")
    )
    rn = F.row_number().over(
        Window.partitionBy("k").orderBy(F.col("score").desc(), F.col("node").asc())
    )
    winners = scored.withColumn("rn", rn).where(F.col("rn") == 1).select(
        "k", "node", "degree", "n_tri", "score"
    )
    a, b = sig.alias("a"), sig.alias("b")
    dominated = (
        a.join(
            b,
            (F.col("b.degree") >= F.col("a.degree"))
            & (F.col("b.n_tri") >= F.col("a.n_tri"))
            & (
                (F.col("b.degree") > F.col("a.degree"))
                | (F.col("b.n_tri") > F.col("a.n_tri"))
            ),
        )
        .groupBy(F.col("a.node").alias("node"))
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    return (
        winners.join(dominated, "node", "left")
        .withColumn(
            "on_skyline", F.when(F.col("nd").isNull(), 1).otherwise(0).cast("int")
        )
        .select("k", "node", "degree", "n_tri", "score", "on_skyline")
    )


def _build_o_weight_sweep() -> str:
    return f"""
WITH {_SQL_TRI_EDGES},
deg AS (
  SELECT n, count(*) AS d
  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
tri AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM e e1 JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
cnt AS (
  SELECT n, count(*) AS n_tri
  FROM (SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri)
  GROUP BY n),
sig AS (
  SELECT deg.n AS node, cast(deg.d as bigint) AS degree,
         cast(coalesce(cnt.n_tri, 0) as bigint) AS n_tri
  FROM deg LEFT JOIN cnt ON cnt.n = deg.n
  WHERE deg.d >= 2),
ks AS (SELECT cast(unnest(range(0, {WSW_STEPS})) as bigint) AS k),
scored AS (
  SELECT k, node, degree, n_tri, k * degree + (4 - k) * n_tri AS score
  FROM sig, ks),
winners AS (
  SELECT k, node, degree, n_tri, score
  FROM (SELECT *, row_number() OVER (PARTITION BY k
                                     ORDER BY score DESC, node ASC) AS rn
        FROM scored)
  WHERE rn = 1),
dom AS (
  SELECT a.node, count(*) AS nd
  FROM sig a JOIN sig b
    ON b.degree >= a.degree AND b.n_tri >= a.n_tri
   AND (b.degree > a.degree OR b.n_tri > a.n_tri)
  GROUP BY a.node)
SELECT w.k, w.node, w.degree, w.n_tri, w.score,
       cast(CASE WHEN dom.node IS NULL THEN 1 ELSE 0 END as int) AS on_skyline
FROM winners w LEFT JOIN dom ON dom.node = w.node
"""


O_WEIGHT_SWEEP_WINNERS = _build_o_weight_sweep()


# ---------------------- multimodal packing-budget fit (6b)

SBF_TOKEN_BUDGET = 24   # text-token budget per packed sequence slot
SBF_MEDIA_BUDGET = 2    # media slots per packed sequence


def q_span_budget_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Packing-budget fit of one round's interleaved documents: per
    fetched doc, the exact text-token count (sum of per-span word
    counts over its TEXT spans) and media-span count, and whether the
    doc fits a (SBF_TOKEN_BUDGET tokens, SBF_MEDIA_BUDGET media)
    packing slot as-is — with the two violation flags separated,
    because the remedies differ (over-token docs get split at span
    boundaries; over-media docs get frame-sampled). This is the
    admission gate in front of sequence_packing for the MULTIMODAL
    case: text-only packing counts tokens, interleaved packing must
    budget BOTH axes, and span_patterns/span_transitions describe the
    shapes while THIS prices them against a concrete slot. Runs on
    the engine's own fetch surface; all counts exact.

    100 TB shape: per-doc array HOFs over the spans column (token
    sums are ordered folds inside the fetch projection, no explode),
    one partial-aggregated rollup per (fits, over_tokens, over_media)
    verdict cell — output bounded by the 2^3 verdict alphabet with
    per-cell doc counts, token mass, and media mass. Reference
    analog: tweet-length/media-count admission in the reference's
    dump path, lifted to span sequences."""
    _, plan = _plan(spark, sf)
    docs = fetch_documents(plan, ROUND_NO).dropDuplicates(["doc_id"])
    n_tok = F.aggregate(
        F.col("spans"),
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.when(
            s["kind"] == "text", F.size(F.split(s["text"], " ")).cast("long")
        ).otherwise(F.lit(0).cast("long")),
    )
    n_med = F.size(F.filter(F.col("spans"), lambda s: s["kind"] == "media")).cast(
        "long"
    )
    flagged = docs.select(
        n_tok.alias("n_tokens"),
        n_med.alias("n_media"),
    ).select(
        "n_tokens",
        "n_media",
        (F.col("n_tokens") > SBF_TOKEN_BUDGET).cast("int").alias("over_tokens"),
        (F.col("n_media") > SBF_MEDIA_BUDGET).cast("int").alias("over_media"),
    )
    return flagged.groupBy("over_tokens", "over_media").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.sum("n_media").alias("sum_media"),
    ).withColumn(
        "fits",
        ((F.col("over_tokens") == 0) & (F.col("over_media") == 0)).cast("int"),
    )


def _build_o_span_budget() -> str:
    kind = lambda v: f"(CASE WHEN ({_stream('d', docspec._S_KIND, v)}) % 3 < 2 THEN 't' ELSE 'm' END)"  # noqa: E731
    nwords = f"(1 + ({_stream('d', docspec._S_NWORDS, 'k')}) % 6)::BIGINT"
    return f"""
WITH {_SQL_PLAN_BASE},
st AS (SELECT (url_hash)::HUGEINT AS u FROM plan),
st2 AS (SELECT *, ({_stream('u', docspec._S_STATUS)}) % 100 AS r100 FROM st),
ok AS (SELECT u, (1 + ({_stream('u', docspec._S_NDOCS)}) % 4)::BIGINT AS nd
       FROM st2 WHERE r100 < 88),
dk AS (SELECT ({_stream('u', docspec._S_DOCKEY, '256 + j')}) AS d
       FROM (SELECT u, unnest(range(0, nd)) AS j FROM ok)),
dd AS (SELECT d, (1 + ({_stream('d', docspec._S_NSPANS)}) % 8)::BIGINT AS nsp FROM dk),
per AS (
  SELECT
    cast(coalesce(list_sum(list_transform(
      list_filter(range(0, nsp), k -> {kind('k')} = 't'),
      k -> {nwords})), 0) as bigint) AS n_tokens,
    cast(len(list_filter(range(0, nsp), k -> {kind('k')} = 'm')) as bigint)
      AS n_media
  FROM dd),
flagged AS (
  SELECT n_tokens, n_media,
         cast(CASE WHEN n_tokens > {SBF_TOKEN_BUDGET} THEN 1 ELSE 0 END as int)
           AS over_tokens,
         cast(CASE WHEN n_media > {SBF_MEDIA_BUDGET} THEN 1 ELSE 0 END as int)
           AS over_media
  FROM per)
SELECT over_tokens, over_media,
       cast(count(*) as bigint) AS n_docs,
       cast(sum(n_tokens) as bigint) AS sum_tokens,
       cast(sum(n_media) as bigint) AS sum_media,
       cast(CASE WHEN over_tokens = 0 AND over_media = 0 THEN 1 ELSE 0 END
            as int) AS fits
FROM flagged GROUP BY over_tokens, over_media
"""


O_SPAN_BUDGET_FIT = _build_o_span_budget()


# ----------------------- span position profile (6c)

SPP_PPM = 1_000_000


def q_span_position_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Positional profile of the interleaved payload: per span OFFSET
    k (0-based), how many documents have a span there, how many of
    those spans are text vs media, the media share in ppm, and the
    exact text-token mass at that position. Packing and truncation
    policies are positional — 'cut at 8 spans', 'media rarely leads'
    (span_transitions showed direction; THIS shows absolute
    position), 'late spans carry less text' — and this query is the
    profile those policies read. Runs on the engine's fetch surface;
    offsets are the north rule's order invariant made into the
    group key.

    100 TB shape: one bounded explode (<= MAX_SPANS per doc) into a
    partial-aggregated groupBy(offset) whose cardinality is
    MAX_SPANS — constant-size output at any corpus scale."""
    _, plan = _plan(spark, sf)
    docs = fetch_documents(plan, ROUND_NO).dropDuplicates(["doc_id"])
    ex = docs.select(F.explode("spans").alias("s")).select(
        F.col("s.offset").cast("long").alias("offset"),
        (F.col("s.kind") == "media").cast("long").alias("is_media"),
        F.when(
            F.col("s.kind") == "text",
            F.size(F.split(F.col("s.text"), " ")).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("n_words"),
    )
    return ex.groupBy("offset").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum("is_media").alias("n_media"),
        F.sum("n_words").alias("sum_words"),
    ).select(
        "offset",
        "n_spans",
        "n_media",
        (F.col("n_spans") - F.col("n_media")).alias("n_text"),
        "sum_words",
        F.expr(f"(n_media * {SPP_PPM}) DIV n_spans").alias("media_ppm"),
    )


def _build_o_span_profile() -> str:
    kind = lambda v: f"(CASE WHEN ({_stream('d', docspec._S_KIND, v)}) % 3 < 2 THEN 't' ELSE 'm' END)"  # noqa: E731
    nwords = f"(1 + ({_stream('d', docspec._S_NWORDS, 'k')}) % 6)::BIGINT"
    return f"""
WITH {_SQL_PLAN_BASE},
st AS (SELECT (url_hash)::HUGEINT AS u FROM plan),
st2 AS (SELECT *, ({_stream('u', docspec._S_STATUS)}) % 100 AS r100 FROM st),
ok AS (SELECT u, (1 + ({_stream('u', docspec._S_NDOCS)}) % 4)::BIGINT AS nd
       FROM st2 WHERE r100 < 88),
dk AS (SELECT ({_stream('u', docspec._S_DOCKEY, '256 + j')}) AS d
       FROM (SELECT u, unnest(range(0, nd)) AS j FROM ok)),
dd AS (SELECT d, (1 + ({_stream('d', docspec._S_NSPANS)}) % 8)::BIGINT AS nsp FROM dk),
ex AS (
  SELECT cast(k as bigint) AS "offset",
         CASE WHEN {kind('k')} = 'm' THEN 1 ELSE 0 END AS is_media,
         CASE WHEN {kind('k')} = 't' THEN {nwords} ELSE 0 END AS n_words
  FROM (SELECT d, nsp, unnest(range(0, nsp)) AS k FROM dd))
SELECT "offset",
       cast(count(*) as bigint) AS n_spans,
       cast(sum(is_media) as bigint) AS n_media,
       cast(count(*) - sum(is_media) as bigint) AS n_text,
       cast(sum(n_words) as bigint) AS sum_words,
       (cast(sum(is_media) as bigint) * {SPP_PPM})
         // cast(count(*) as bigint) AS media_ppm
FROM ex GROUP BY "offset"
"""


O_SPAN_POSITION_PROFILE = _build_o_span_profile()


# --------------------------- Gini of the fetch allocation (6c)

GINI_PPM = 1_000_000


def q_alloc_gini(spark: SparkSession, sf: str) -> DataFrame:
    """Gini coefficient of the round's per-host fetch allocation —
    the rank-based inequality reading next to sched_fairness's Jain
    index (Jain is mean-square-based and moved most by the largest
    holders; Gini weighs the whole Lorenz curve, the standard
    econ/SRE inequality number). Exact from the sorted-prefix
    identity G = (2 * sum_i i*x_(i) - (n+1) * S) / (n * S) — every
    term a BIGINT over the demand-sorted allocation (ties broken by
    host id; the i*x products are exact), one ppm floor division at
    the end. Output: the Lorenz-curve deciles (cumulative allocation
    share at each tenth of hosts, integer ppm — hash-pinning the
    whole curve) with the Gini on every row.

    100 TB shape: per-host counts partial-aggregate; the sorted
    prefix runs over HOST cardinality (the scheduler rank-tail
    regime, same bound as maxmin/fairness); deciles are a bounded
    rollup. Reference analog: crawl-account load imbalance (SURVEY
    §2 S1 fleet), measured on the Lorenz scale."""
    _, plan = _plan(spark, sf)
    x = plan.groupBy("host").agg(F.count(F.lit(1)).cast("long").alias("x"))
    w = Window.orderBy(F.col("x").asc(), F.col("host").asc())
    srt = x.withColumn("i", F.row_number().over(w).cast("long")).withColumn(
        "cum", F.sum("x").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    tot = srt.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("i") * F.col("x")).alias("iwx"),
    )
    g = tot.select(
        "n",
        "s",
        F.expr(
            f"((2 * iwx - (n + 1) * s) * {GINI_PPM}) DIV (n * s)"
        ).alias("gini_ppm"),
    )
    dec = srt.crossJoin(F.broadcast(g)).withColumn(
        "decile", F.expr("(10 * i + n - 1) DIV n")
    )
    return (
        dec.groupBy("decile", "n", "s", "gini_ppm")
        .agg(F.max("cum").alias("cum_alloc"))
        .select(
            "decile",
            F.col("n").alias("n_hosts"),
            F.col("s").alias("total_alloc"),
            "cum_alloc",
            F.expr(f"(cum_alloc * {GINI_PPM}) DIV s").alias("lorenz_ppm"),
            "gini_ppm",
        )
    )


O_ALLOC_GINI = f"""
WITH {_SQL_PLAN_BASE},
x AS (
  SELECT host, cast(count(*) as bigint) AS x FROM plan GROUP BY host),
srt AS (
  SELECT *,
         cast(row_number() OVER (ORDER BY x ASC, host ASC) as bigint) AS i,
         cast(sum(x) OVER (ORDER BY x ASC, host ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint)
           AS cum
  FROM x),
tot AS (
  SELECT cast(count(*) as bigint) AS n, cast(sum(x) as bigint) AS s,
         cast(sum(i * x) as bigint) AS iwx
  FROM srt),
g AS (
  SELECT n, s,
         ((2 * iwx - (n + 1) * s) * {GINI_PPM}) // (n * s) AS gini_ppm
  FROM tot)
SELECT (10 * srt.i + g.n - 1) // g.n AS decile,
       g.n AS n_hosts, g.s AS total_alloc,
       max(srt.cum) AS cum_alloc,
       (max(srt.cum) * {GINI_PPM}) // g.s AS lorenz_ppm,
       g.gini_ppm
FROM srt, g
GROUP BY 1, g.n, g.s, g.gini_ppm
"""


# -------------------------- retry amplification forecast (6d)

RETRY_MAX = 3        # retries after the first attempt
RETRY_PPM = 1_000_000


def q_retry_cost_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """Retry amplification per host under an up-to-RETRY_MAX-retries
    policy, computed EXACTLY from the observed failure rate: with
    per-host failure probability p = err/tot (a rational), the
    expected attempts per URL is the truncated geometric series
    sum_{k=0..R} p^k = (tot^{R+1} - err^{R+1}) / (tot^R * (tot -
    err)) — both sides exact BIGINTs at fixture scale, one ppm floor
    division. The fetcher fleet's real capacity is demand x THIS
    factor; a host at 40% errors with 3 retries costs 1.62x its
    nominal budget, and the emitted extra_attempts column is that
    surcharge in absolute expected attempts for the host's observed
    volume — the number capacity planning actually subtracts from
    the politeness budget.

    100 TB shape: one partial-aggregated groupBy(host) + map-side
    exact-power arithmetic; |hosts| rows. The mergeable state is the
    same (host, n, err) pair as the rate tiers. Reference analog:
    the reference's retry/backoff bookkeeping per account (SURVEY §2
    S1/S2 error paths), priced in expectation."""
    e = _t(spark, sf, "events")
    err = F.when(
        F.substring(
            F.md5(F.concat(F.lit("brn:"), F.col("event_id").cast("string"))), 1, 1
        ).isin("1", "3", "5"),
        1,
    ).otherwise(0)
    agg = (
        e.select(
            F.pmod(F.col("user_id"), F.lit(BURN_HOSTS)).alias("host"),
            err.alias("e"),
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("tot"),
            F.sum("e").cast("long").alias("err"),
        )
    )
    r = RETRY_MAX
    # sum_{k=0..R} p^k = sum_{k=0..R} err^k / tot^k
    #                  = (sum_{k=0..R} err^k * tot^(R-k)) / tot^R
    terms = []
    for k in range(r + 1):
        e_part = "*".join(["err"] * k) if k else "1"
        t_part = "*".join(["tot"] * (r - k)) if r - k else "1"
        terms.append(f"({e_part}) * ({t_part})")
    series_num = " + ".join(terms)
    den = "*".join(["tot"] * r)
    out = agg.select(
        "host",
        "tot",
        "err",
        F.expr(f"(({series_num}) * {RETRY_PPM}) DIV ({den})").alias(
            "attempts_ppm"
        ),
    )
    return out.withColumn(
        "extra_attempts",
        F.expr(f"(tot * attempts_ppm) DIV {RETRY_PPM} - tot"),
    )


def _o_retry_cost() -> str:
    r = RETRY_MAX
    terms = []
    for k in range(r + 1):
        e_part = "*".join(["err"] * k) if k else "1"
        t_part = "*".join(["tot"] * (r - k)) if r - k else "1"
        terms.append(f"({e_part}) * ({t_part})")
    series_num = " + ".join(terms)
    den = "*".join(["tot"] * r)
    return f"""
WITH per AS (
  SELECT user_id % {BURN_HOSTS} AS host,
         CASE WHEN substring(md5('brn:' || cast(event_id as varchar)), 1, 1)
                IN ('1','3','5') THEN 1 ELSE 0 END AS e
  FROM events),
agg AS (
  SELECT host, cast(count(*) as bigint) AS tot,
         cast(sum(e) as bigint) AS err
  FROM per GROUP BY host)
SELECT host, tot, err,
       (({series_num}) * {RETRY_PPM}) // ({den}) AS attempts_ppm,
       (tot * ((({series_num}) * {RETRY_PPM}) // ({den}))) // {RETRY_PPM} - tot
         AS extra_attempts
FROM agg
"""


O_RETRY_COST_FORECAST = _o_retry_cost()


# --------------------------- composite host reputation (6d)

REP_HOSTS = 12
REP_PPM = 1_000_000


def q_host_reputation(spark: SparkSession, sf: str) -> DataFrame:
    """Composite host reputation — the capstone join of the health
    tiers into ONE rank: per host, (a) fetch error rate (burn-rate
    fixture), (b) exact median latency (the quantile tier's rank
    rule), (c) discovery value (external outlinks per fetched URL,
    the link_locality rate) — each rank-normalized to [0, 1e6] with
    GOOD = HIGH (errors and latency rank descending, discovery
    ascending) exactly as rank_normalize does for documents, then
    averaged into the composite and ranked. This is the
    multi-signal ordering a scheduler would actually deploy after
    the per-signal audits; the skyline/sweep tiers explored the
    frontier of two signals, this commits to a concrete three-signal
    score with exact, outlier-immune scaling.

    100 TB shape: three partial-aggregated per-host passes (counts,
    median via the cumulative-count rule, locality rates from the
    outlink expansion), three bounded rank sorts over host
    cardinality, one composite sort. Everything integer. Reference
    analog: the reference's account-health ordering (rate limits x
    latency x yield) unified (SURVEY §2 S1/J5/O1)."""
    e = _t(spark, sf, "events")
    err = F.when(
        F.substring(
            F.md5(F.concat(F.lit("brn:"), F.col("event_id").cast("string"))), 1, 1
        ).isin("1", "3", "5"),
        1,
    ).otherwise(0)
    lat = (
        F.lit(1)
        + F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("tmo:"), F.col("event_id").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(TMO_VALUE_MOD),
        )
    )
    base = e.select(
        F.pmod(F.col("user_id"), F.lit(REP_HOSTS)).alias("host"),
        err.alias("e"),
        lat.alias("lat"),
    )
    # one (host, lat) pass carries the error tally too, so the doubly
    # md5-synthesized base is scanned ONCE: rates is a rollup of the
    # same hv subtree the median probe consumes, and the shared
    # (host, lat) exchange is reused (ReusedExchange, guide §2.4)
    hv = base.groupBy("host", "lat").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("e").cast("long").alias("ec"),
    )
    rates = hv.groupBy("host").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum("ec").cast("long").alias("n_err"),
    ).withColumn("err_ppm", F.expr(f"(n_err * {REP_PPM}) DIV n"))
    cum = (
        hv.select("host", "lat", "c")
        .withColumn(
            "cumc",
            F.sum("c").over(
                Window.partitionBy("host")
                .orderBy("lat")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn("nn", F.sum("c").over(Window.partitionBy("host")))
    )
    p50 = (
        cum.where(F.col("cumc") >= F.ceil(F.col("nn") / 2))
        .groupBy("host")
        .agg(F.min("lat").alias("p50_us"))
    )
    _, plan = _plan(spark, sf)
    links = discover_outlinks_anchored(fetch_results(plan), N_HOSTS)
    src_n = F.substring("src_host", 2, 10).cast("long")
    dst_n = F.regexp_extract("url", r"^https://h(\d+)\.", 1).cast("long")
    ext = (
        links.select(
            F.pmod(src_n, F.lit(REP_HOSTS)).alias("host"),
            (src_n != dst_n).cast("long").alias("is_ext"),
        )
        .groupBy("host")
        .agg(F.sum("is_ext").alias("n_ext"))
    )
    nf = (
        plan.select(
            F.pmod(F.substring("host", 2, 10).cast("long"), F.lit(REP_HOSTS)).alias(
                "host"
            )
        )
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_fetched"))
    )
    disc = ext.join(nf, "host").withColumn(
        "disc_ppm", F.expr(f"(n_ext * {REP_PPM}) DIV n_fetched")
    )
    j = rates.join(p50, "host").join(
        disc.select("host", "disc_ppm"), "host"
    )
    n_row = j.agg(F.count(F.lit(1)).cast("long").alias("nh"))
    # good = high: errors + latency rank DESC (low is good), discovery ASC
    r_err = F.rank().over(Window.orderBy(F.col("err_ppm").desc())).cast("long")
    r_lat = F.rank().over(Window.orderBy(F.col("p50_us").desc())).cast("long")
    r_disc = F.rank().over(Window.orderBy(F.col("disc_ppm").asc())).cast("long")
    ranked = (
        j.withColumn("rk_err", r_err)
        .withColumn("rk_lat", r_lat)
        .withColumn("rk_disc", r_disc)
        .crossJoin(F.broadcast(n_row))
    )
    norm = lambda c: F.expr(f"(({c} - 1) * {REP_PPM}) DIV (nh - 1)")  # noqa: E731
    scored = ranked.select(
        "host",
        "err_ppm",
        "p50_us",
        "disc_ppm",
        norm("rk_err").alias("err_score"),
        norm("rk_lat").alias("lat_score"),
        norm("rk_disc").alias("disc_score"),
    ).withColumn(
        "composite_ppm",
        F.expr("(err_score + lat_score + disc_score) DIV 3"),
    )
    return scored.withColumn(
        "rep_rank",
        F.row_number()
        .over(Window.orderBy(F.col("composite_ppm").desc(), F.col("host").asc()))
        .cast("long"),
    )


def _o_host_reputation_real() -> str:
    n_out = f"(({_stream('u', docspec._S_NOUT)}) % 4)::BIGINT"
    th = f"(({_stream('u', docspec._S_OUTHOST, 'j')}) % {N_HOSTS})::BIGINT"
    return f"""
WITH {_SQL_PLAN_BASE},
base AS (
  SELECT user_id % {REP_HOSTS} AS host,
         CASE WHEN substring(md5('brn:' || cast(event_id as varchar)), 1, 1)
                IN ('1','3','5') THEN 1 ELSE 0 END AS e,
         1 + ('0x' || substring(md5('tmo:' || cast(event_id as varchar)), 1, 15))
               ::BIGINT % {TMO_VALUE_MOD} AS lat
  FROM events),
rates AS (
  SELECT host, cast(count(*) as bigint) AS n,
         cast(sum(e) as bigint) AS n_err,
         (cast(sum(e) as bigint) * {REP_PPM}) // cast(count(*) as bigint)
           AS err_ppm
  FROM base GROUP BY host),
cum AS (
  SELECT host, lat,
         sum(count(*)) OVER (PARTITION BY host ORDER BY lat
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc,
         sum(count(*)) OVER (PARTITION BY host) AS nn
  FROM base GROUP BY host, lat),
p50 AS (
  SELECT host, min(lat) AS p50_us
  FROM cum WHERE cumc >= ceil(nn / 2.0) GROUP BY host),
st AS (SELECT host AS src_host, (url_hash)::HUGEINT AS u FROM plan),
st2 AS (SELECT *, ({_stream('u', docspec._S_STATUS)}) % 100 AS r100 FROM st),
okl AS (SELECT src_host, u, {n_out} AS nout FROM st2 WHERE r100 < 88),
lj AS (SELECT src_host, u, unnest(range(0, nout)) AS j FROM okl),
extl AS (
  SELECT cast(substring(src_host, 2) as bigint) % {REP_HOSTS} AS host,
         CASE WHEN {th} <> cast(substring(src_host, 2) as bigint)
              THEN 1 ELSE 0 END AS is_ext
  FROM lj),
ext AS (
  SELECT host, cast(sum(is_ext) as bigint) AS n_ext FROM extl GROUP BY host),
nf AS (
  SELECT cast(substring(host, 2) as bigint) % {REP_HOSTS} AS host,
         cast(count(*) as bigint) AS n_fetched
  FROM plan GROUP BY 1),
disc AS (
  SELECT ext.host, (ext.n_ext * {REP_PPM}) // nf.n_fetched AS disc_ppm
  FROM ext JOIN nf ON nf.host = ext.host),
j AS (
  SELECT r.host, r.err_ppm, p.p50_us, d.disc_ppm
  FROM rates r JOIN p50 p ON p.host = r.host JOIN disc d ON d.host = r.host),
reprank AS (
  SELECT *,
         cast(rank() OVER (ORDER BY err_ppm DESC) as bigint) AS rk_err,
         cast(rank() OVER (ORDER BY p50_us DESC) as bigint) AS rk_lat,
         cast(rank() OVER (ORDER BY disc_ppm ASC) as bigint) AS rk_disc,
         cast(count(*) OVER () as bigint) AS nh
  FROM j),
repscored AS (
  SELECT host, err_ppm, p50_us, disc_ppm,
         ((rk_err - 1) * {REP_PPM}) // (nh - 1) AS err_score,
         ((rk_lat - 1) * {REP_PPM}) // (nh - 1) AS lat_score,
         ((rk_disc - 1) * {REP_PPM}) // (nh - 1) AS disc_score
  FROM reprank)
SELECT *,
       (err_score + lat_score + disc_score) // 3 AS composite_ppm,
       cast(row_number() OVER (
              ORDER BY (err_score + lat_score + disc_score) // 3 DESC,
                       host ASC) as bigint) AS rep_rank
FROM repscored
"""


O_HOST_REPUTATION = _o_host_reputation_real()


# ---------------------- two-sample KS latency drift (6e)

KS_HOSTS = 12
KS_PPM = 1_000_000


def q_ks_latency_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic per host against
    the pooled fleet: KS_h = max over latency values of |F_h(v) -
    F_all(v)| — computed with NO floats as the max of the
    cross-multiplied integers |cum_h * n_all - cum_all * n_h| over
    the merged value grid, divided once into ppm at the end. This is
    the distribution-level drift detector above the summary tiers:
    a host can match the fleet's median (host_latency_quantiles) and
    mean (host_ewma) and still be bimodal or heavy-tailed — KS sees
    the whole CDF. Emitted per host: sample size, the KS numerator
    and its exact location (the latency value where the gap peaks,
    tie to the smallest value), and ks_ppm.

    100 TB shape: one (host, value) partial count + cumulative
    windows inside the host partition (the quantile tier's exchange
    pattern); the pooled CDF is the same aggregation without the
    host key, broadcast-joined by value via the merged grid. At
    warehouse scale the same statistic runs over the hdr_quantiles
    bucket rows (64*octaves per host) instead of raw values — same
    arithmetic, bounded rows. Reference analog: none — fleet
    monitoring infrastructure (the classical KS drift check, exact).
    """
    e = _t(spark, sf, "events")
    lat = (
        F.lit(1)
        + F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("tmo:"), F.col("event_id").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(TMO_VALUE_MOD),
        )
    )
    base = e.select(
        F.pmod(F.col("user_id"), F.lit(KS_HOSTS)).alias("host"), lat.alias("v")
    )
    # hv is a lossless summary of base (every event lands in exactly one
    # (host, v) cell), so totals / n_all / the value grid are rollups of
    # hv — the identical hv subtree under every consumer lets Spark
    # reuse ONE (host, v) exchange (ReusedExchange), so the
    # md5-synthesized base is scanned once instead of five times
    # (guide §2.4); no checkpoint: a materialization barrier measured
    # slower than plain exchange reuse here
    hv = base.groupBy("host", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    totals = hv.groupBy("host").agg(F.sum("c").alias("n_h"))
    # merged grid: both CDFs evaluated at every distinct v. Instead of
    # materializing the |hosts| x |values| grid + two cumulative
    # windows (12-way-parallel sorts of ~2.4M rows) + two join-backs,
    # ship each host its cells AND one replicated copy of the pooled
    # per-value counts through ONE hash exchange, and do the exact
    # int64 CDF walk in numpy per host (guide §4.2 — same kernel
    # pattern as the r6 semdedup/ring_rebalance waves). Identical
    # integer arithmetic: cumsum over the sorted merged grid,
    # cross-multiplied gap, first-argmax = smallest v on ties (the
    # min_by(v, struct(-gap, v)) rule).
    allv = hv.groupBy("v").agg(F.sum("c").alias("ca"))
    cells = hv.select("host", "v", "c", F.lit(0).alias("tag")).unionByName(
        allv.crossJoin(totals.select("host")).select(
            "host", "v", F.col("ca").alias("c"), F.lit(1).alias("tag")
        )
    )

    def ks_host(pdf):
        import numpy as np
        import pandas as pd

        tag = pdf["tag"].to_numpy()
        g = pdf[tag == 1].sort_values("v")
        hrows = pdf[tag == 0]
        v = g["v"].to_numpy(np.int64)
        cum_all = np.cumsum(g["c"].to_numpy(np.int64))
        n_all = int(cum_all[-1])
        hc = np.zeros(len(v), dtype=np.int64)
        pos = np.searchsorted(v, hrows["v"].to_numpy(np.int64))
        hc[pos] = hrows["c"].to_numpy(np.int64)
        cum_h = np.cumsum(hc)
        n_h = int(cum_h[-1])
        gap = np.abs(cum_h * n_all - cum_all * n_h)
        i = int(np.argmax(gap))
        return pd.DataFrame(
            {
                "host": [int(pdf["host"].iloc[0])],
                "n_h": [n_h],
                "ks_num": [int(gap[i])],
                "ks_at_v": [int(v[i])],
                "n_all": [n_all],
            }
        )

    best = cells.groupBy("host").applyInPandas(
        ks_host, "host long, n_h long, ks_num long, ks_at_v long, n_all long"
    )
    return best.select(
        "host",
        "n_h",
        "ks_num",
        "ks_at_v",
        F.expr(f"(ks_num * {KS_PPM}) DIV (n_h * n_all)").alias("ks_ppm"),
    )


O_KS_LATENCY_DRIFT = f"""
WITH base AS (
  SELECT user_id % {KS_HOSTS} AS host,
         1 + ('0x' || substring(md5('tmo:' || cast(event_id as varchar)), 1, 15))
               ::BIGINT % {TMO_VALUE_MOD} AS v
  FROM events),
hv AS (
  SELECT host, v, cast(count(*) as bigint) AS c FROM base GROUP BY host, v),
totals AS (
  SELECT host, cast(count(*) as bigint) AS n_h FROM base GROUP BY host),
nall AS (SELECT cast(count(*) as bigint) AS n_all FROM base),
grid AS (
  SELECT t.host, g.v FROM (SELECT DISTINCT v FROM base) g, totals t),
cells AS (
  SELECT grid.host, grid.v, coalesce(hv.c, 0) AS c
  FROM grid LEFT JOIN hv ON hv.host = grid.host AND hv.v = grid.v),
cumh AS (
  SELECT host, v,
         sum(c) OVER (PARTITION BY host ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_h
  FROM cells),
alls AS (
  SELECT v, sum(count(*)) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_all
  FROM base GROUP BY v),
j AS (
  SELECT c.host, c.v, t.n_h, nall.n_all,
         abs(c.cum_h * nall.n_all - a.cum_all * t.n_h) AS gap
  FROM cumh c
  JOIN alls a ON a.v = c.v
  JOIN totals t ON t.host = c.host
  CROSS JOIN nall)
SELECT host, n_h,
       cast(max(gap) as bigint) AS ks_num,
       cast(first(v ORDER BY gap DESC, v ASC) as bigint) AS ks_at_v,
       (cast(max(gap) as bigint) * {KS_PPM}) // (n_h * max(n_all)) AS ks_ppm
FROM j GROUP BY host, n_h
"""


# ----------------------------- rich-club coefficient (6e)

RC_PPM = 1_000_000
RC_KS = (1, 2, 3, 4, 6, 8)


def q_rich_club(spark: SparkSession, sf: str) -> DataFrame:
    """Rich-club coefficient curve over the host graph: for each
    degree threshold k, the density among the 'rich' nodes (degree >
    k) — phi(k) = E_rich / C(N_rich, 2) in exact integer ppm
    (Colizza et al. 2006, log-free by nature). A rising phi(k) says
    high-degree hosts preferentially interlink (a rich CLUB — here
    the planted clique, which saturates phi at high k); flat-or-
    falling says hubs are mutually independent aggregators. The
    crawl reading: a strong rich club means hub politeness budgets
    interact (they cite each other's pages), and mirror/farm tiers
    should check club members first.

    100 TB shape: degrees are one node-key aggregation; each
    threshold is a broadcast filter + one edge-subset count (edges
    with BOTH endpoints rich — an endpoint-decorated filter, no new
    shuffle shape); the curve is |thresholds| rows. Reference
    analog: the follower-graph elite-interconnection stats of SURVEY
    §2's graph tier."""
    edges = _tri_edges(_t(spark, sf, "documents"))
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionByName(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    dec = edges.join(
        deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u"
    ).join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    out = None
    for k in RC_KS:
        n_rich = deg.where(F.col("d") > k).agg(
            F.count(F.lit(1)).cast("long").alias("n_rich")
        )
        e_rich = dec.where((F.col("du") > k) & (F.col("dv") > k)).agg(
            F.count(F.lit(1)).cast("long").alias("e_rich")
        )
        row = n_rich.crossJoin(e_rich).select(
            F.lit(k).cast("long").alias("k"),
            "n_rich",
            "e_rich",
            F.expr(
                f"CASE WHEN n_rich >= 2 THEN"
                f" (e_rich * {RC_PPM} * 2) DIV (n_rich * (n_rich - 1))"
                f" ELSE 0 END"
            ).alias("phi_ppm"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def _build_o_rich_club() -> str:
    rows = []
    for k in RC_KS:
        rows.append(
            f"""SELECT cast({k} as bigint) AS k,
       (SELECT cast(count(*) as bigint) FROM deg WHERE d > {k}) AS n_rich,
       (SELECT cast(count(*) as bigint) FROM e
        JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
        WHERE du.d > {k} AND dv.d > {k}) AS e_rich,
       CASE WHEN (SELECT count(*) FROM deg WHERE d > {k}) >= 2 THEN
         ((SELECT cast(count(*) as bigint) FROM e
           JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
           WHERE du.d > {k} AND dv.d > {k}) * {RC_PPM} * 2)
           // ((SELECT cast(count(*) as bigint) FROM deg WHERE d > {k})
               * ((SELECT cast(count(*) as bigint) FROM deg WHERE d > {k}) - 1))
       ELSE 0 END AS phi_ppm"""
        )
    union = "\nUNION ALL\n".join(rows)
    return f"""
WITH {_SQL_TRI_EDGES},
deg AS (
  SELECT n, cast(count(*) as bigint) AS d
  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n)
{union}
"""


O_RICH_CLUB = _build_o_rich_club()


# ------------------------ metronome detector ROC sweep (6e)

ROC_KS = (1, 10, 1000, 100_000, 1_000_000)
ROC_PPM = 1_000_000


def q_metronome_roc(spark: SparkSession, sf: str) -> DataFrame:
    """ROC points of the metronome bot detector against planted
    truth: for each threshold K in the grid, flag users with
    K * dispersion < sum_g^2 (CV^2 < 1/K — timing_regularity's exact
    cross-product test) and score it against the known labels
    (planted negative-id bots = positive class). Per K: TP/FP/FN/TN
    and exact tpr/fpr ppm — the calibration sweep that chooses the
    production threshold (timing_regularity ships K=10; THIS shows
    what moving K buys or costs). All integers; truth is by
    construction, so the ROC is exact, not estimated.

    100 TB shape: the gap moments are computed ONCE (the
    timing_regularity exchange) and every threshold is a map-side
    comparison over |users| rows — the sweep costs |grid| column
    expressions, not |grid| passes. Reference analog: tuning the
    reference's bot heuristics (SURVEY §2 bot tier), done as an
    exact ROC."""
    mom = q_timing_regularity(spark, sf).select(
        "user_id", "n_gaps", "sum_g", "disp_num"
    )
    out = None
    # floor-threshold form disp < (sum_g^2) DIV K — equivalent to the
    # production K*disp < sum_g^2 test up to the floor, and safe for
    # ANY K (K * disp would overflow int64 at the high-K end of the
    # sweep on month-long organic dispersions)
    for k in ROC_KS:
        flag = (
            F.col("disp_num")
            < F.expr(f"(sum_g * sum_g) DIV {k}")
        ).cast("long")
        truth = (F.col("user_id") < 0).cast("long")
        agg = (
            mom.select(flag.alias("f"), truth.alias("t"))
            .agg(
                F.sum(F.expr("f * t")).alias("tp"),
                F.sum(F.expr("f * (1 - t)")).alias("fp"),
                F.sum(F.expr("(1 - f) * t")).alias("fn"),
                F.sum(F.expr("(1 - f) * (1 - t)")).alias("tn"),
            )
            .select(
                F.lit(k).cast("long").alias("k"),
                F.col("tp").cast("long").alias("tp"),
                F.col("fp").cast("long").alias("fp"),
                F.col("fn").cast("long").alias("fn"),
                F.col("tn").cast("long").alias("tn"),
                F.expr(
                    f"CASE WHEN tp + fn > 0 THEN (tp * {ROC_PPM}) DIV (tp + fn)"
                    f" ELSE 0 END"
                ).alias("tpr_ppm"),
                F.expr(
                    f"CASE WHEN fp + tn > 0 THEN (fp * {ROC_PPM}) DIV (fp + tn)"
                    f" ELSE 0 END"
                ).alias("fpr_ppm"),
            )
        )
        out = agg if out is None else out.unionByName(agg)
    return out


def _build_o_metronome_roc() -> str:
    rows = []
    for k in ROC_KS:
        cond = f"disp_num < (sum_g * sum_g) // {k}"
        rows.append(
            f"""SELECT cast({k} as bigint) AS k,
       cast(sum(CASE WHEN {cond} AND user_id < 0
                THEN 1 ELSE 0 END) as bigint) AS tp,
       cast(sum(CASE WHEN {cond} AND user_id >= 0
                THEN 1 ELSE 0 END) as bigint) AS fp,
       cast(sum(CASE WHEN NOT ({cond}) AND user_id < 0
                THEN 1 ELSE 0 END) as bigint) AS fn,
       cast(sum(CASE WHEN NOT ({cond}) AND user_id >= 0
                THEN 1 ELSE 0 END) as bigint) AS tn,
       CASE WHEN sum(CASE WHEN user_id < 0 THEN 1 ELSE 0 END) > 0 THEN
         (cast(sum(CASE WHEN {cond} AND user_id < 0
                   THEN 1 ELSE 0 END) as bigint) * {ROC_PPM})
           // cast(sum(CASE WHEN user_id < 0 THEN 1 ELSE 0 END) as bigint)
       ELSE 0 END AS tpr_ppm,
       CASE WHEN sum(CASE WHEN user_id >= 0 THEN 1 ELSE 0 END) > 0 THEN
         (cast(sum(CASE WHEN {cond} AND user_id >= 0
                   THEN 1 ELSE 0 END) as bigint) * {ROC_PPM})
           // cast(sum(CASE WHEN user_id >= 0 THEN 1 ELSE 0 END) as bigint)
       ELSE 0 END AS fpr_ppm
FROM mom"""
        )
    union = "\nUNION ALL\n".join(rows)
    inner = O_TIMING_REGULARITY.strip().rstrip()
    return f"""
WITH mom AS ({inner})
{union}
"""


O_METRONOME_ROC = _build_o_metronome_roc()


# ------------------------ Wilson confidence bounds (6f)

WIL_PPM = 1_000_000
# z = 2 (~95.4%): makes every Wilson term rational except one integer
# square root, which the exact floor-isqrt handles


def q_host_rate_wilson(spark: SparkSession, sf: str) -> DataFrame:
    """Wilson score interval for per-host success rates with z = 2 —
    the frequentist twin of host_rate_shrunk's Bayes smoothing, and
    the SMALL-SAMPLE-SAFE bound naive p-hat +/- sqrt(pq/n) is not:
    with z = 2 the interval is ((w + 2) * n -/+ 2*sqrt(n*(w*(n-w) +
    n))) / (n * (n + 4)) — every term an exact integer after one
    floor-isqrt (the UCB tier's corrected integer square root, exact
    regardless of libm rounding), so both engines and the python
    third implementation agree bit-for-bit. The scheduler reads the
    LOWER bound as the pessimistic rate for ranking (one bad fetch
    on a 3-pull host no longer zeroes its standing) and the interval
    WIDTH as the value of exploring that host further — the same
    quantity UCB's bonus approximates, here exact.

    Fixture: the skewed pull distribution of host_rate_shrunk (pulls
    1..53), so narrow and very wide intervals coexist. 100 TB shape:
    one groupBy(host) + map-side integer arithmetic, |hosts| rows,
    the same mergeable (host, n, w) state as every rate tier."""
    e = _t(spark, sf, "events")
    win = F.when(
        F.substring(
            F.md5(F.concat(F.lit("ucb:"), F.col("event_id").cast("string"))), 1, 1
        ).isin("1", "3", "5", "7", "9", "b", "d", "f"),
        1,
    ).otherwise(0)
    hh = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("hrs:"), F.col("event_id").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long"),
        F.lit(SHRINK_HOSTS * SHRINK_HOSTS),
    )
    host = F.floor(F.sqrt(hh.cast("double"))).cast("long")
    agg = (
        e.select(host.alias("host"), win.alias("w"))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("w").cast("long").alias("w"),
        )
    )
    arg = F.expr("n * (w * (n - w) + n)")
    s0 = F.floor(F.sqrt(arg.cast("double"))).cast("long")
    isq = (
        F.when((s0 + 1) * (s0 + 1) <= arg, s0 + 1)
        .when(s0 * s0 > arg, s0 - 1)
        .otherwise(s0)
    )
    based = agg.withColumn("isq", isq)
    return based.select(
        "host",
        "n",
        "w",
        F.expr(f"(w * {WIL_PPM}) DIV n").alias("raw_ppm"),
        F.expr(
            f"greatest(((w + 2) * n - 2 * isq) * {WIL_PPM}, 0)"
            f" DIV (n * (n + 4))"
        ).alias("wilson_lo_ppm"),
        F.expr(
            f"least(((w + 2) * n + 2 * isq) * {WIL_PPM} DIV (n * (n + 4)),"
            f" {WIL_PPM})"
        ).alias("wilson_hi_ppm"),
    )


O_HOST_RATE_WILSON = f"""
WITH per AS (
  SELECT cast(floor(sqrt((('0x' || substring(md5('hrs:' || cast(event_id as varchar)), 1, 15))
                            ::BIGINT % {40 * 40})::double)) as bigint) AS host,
         CASE WHEN substring(md5('ucb:' || cast(event_id as varchar)), 1, 1)
                IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE 0 END AS w
  FROM events),
agg AS (
  SELECT host, cast(count(*) as bigint) AS n, cast(sum(w) as bigint) AS w
  FROM per GROUP BY host),
r AS (
  SELECT *,
         cast(floor(sqrt(cast(n * (w * (n - w) + n) as double))) as bigint)
           AS s0,
         n * (w * (n - w) + n) AS arg
  FROM agg),
b AS (
  SELECT host, n, w,
         CASE WHEN (s0+1)*(s0+1) <= arg THEN s0+1
              WHEN s0*s0 > arg THEN s0-1
              ELSE s0 END AS isq
  FROM r)
SELECT host, n, w,
       (w * {WIL_PPM}) // n AS raw_ppm,
       greatest(((w + 2) * n - 2 * isq) * {WIL_PPM}, 0) // (n * (n + 4))
         AS wilson_lo_ppm,
       least(((w + 2) * n + 2 * isq) * {WIL_PPM} // (n * (n + 4)), {WIL_PPM})
         AS wilson_hi_ppm
FROM b
"""


# ------------------------- random-removal percolation (6f)

PERC_PS = (0, 2, 4, 6)   # removal probability in tenths (md5-gated)


def q_random_percolation(spark: SparkSession, sf: str) -> DataFrame:
    """RANDOM-failure percolation of the host graph — the
    complementary experiment to host_robustness's TARGETED hub
    removal (Albert/Jeong/Barabasi 2000: heterogeneous graphs
    survive random failure but shatter under attack; the CONTRAST
    between these two queries is the finding): for each removal
    probability p (tenths, md5-gated per node so the 'random' sample
    is deterministic and identical in both engines), drop the
    selected nodes, rerun the audited CC operator on the induced
    graph, and report survivor count, edge count, component count,
    largest component, and the S2 fragmentation index.

    100 TB shape: each p level is a map-side md5 filter + the
    large-star/small-star CC rounds on the contracted graph (the
    host_robustness shape, |grid| times). Grid is a small constant;
    levels are driver-iterated like kmeans/WL."""
    from concurrent.futures import ThreadPoolExecutor

    from .operators.dedup import connected_components

    # the edge fixture and the gate feed every p level — checkpoint so
    # the md5 edge projection + distinct runs once, not per level
    # (eager: materialized before the threads fan out, so concurrent
    # levels read committed state instead of racing the first job)
    edges = _tri_edges(_t(spark, sf, "documents")).localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("u").alias("n"))
        .unionByName(edges.select(F.col("v").alias("n")))
        .distinct()
    )
    gate = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("perc:"), F.col("n").cast("string"))), 1, 15),
            16,
            10,
        ).cast("long"),
        F.lit(10),
    )
    gated = nodes.withColumn("g", gate).localCheckpoint(eager=True)

    def level(p):
        keep = gated.where(F.col("g") >= p).select("n")
        ed = (
            edges.join(keep.select(F.col("n").alias("u")), "u")
            .join(keep.select(F.col("n").alias("v")), "v")
            .select("u", "v")
        )
        cc = connected_components(ed, "u", "v")
        comp = keep.join(cc, keep["n"] == cc["node"], "left").select(
            "n", F.coalesce("component", F.col("n")).alias("comp")
        )
        sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).cast("long").alias("sz"))
        summ = sizes.agg(
            F.count(F.lit(1)).cast("long").alias("n_components"),
            F.max("sz").alias("largest_comp"),
            F.sum(F.col("sz") * F.col("sz")).alias("s2_fragmentation"),
        )
        meta = keep.agg(F.count(F.lit(1)).cast("long").alias("n_nodes")).crossJoin(
            ed.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
        )
        return meta.crossJoin(summ).select(
            F.lit(p).cast("long").alias("p_tenths"),
            "n_nodes",
            "n_edges",
            "n_components",
            "largest_comp",
            "s2_fragmentation",
        )

    # the grid levels are independent driver-iterated CC runs whose cost
    # is per-round job latency, not data — overlap them (guide §2.6);
    # results are deterministic regardless of completion order
    with ThreadPoolExecutor(max_workers=len(PERC_PS)) as pool:
        rows = list(pool.map(level, PERC_PS))
    out = rows[0]
    for row in rows[1:]:
        out = out.unionByName(row)
    return out


def _build_o_percolation() -> str:
    per_p = []
    for p in PERC_PS:
        per_p.append(
            f"""keep_{p} AS (
  SELECT n FROM gated WHERE g >= {p}),
e_{p} AS (
  SELECT e.u, e.v FROM e
  JOIN keep_{p} ku ON ku.n = e.u JOIN keep_{p} kv ON kv.n = e.v),
und_{p} AS (SELECT u, v FROM e_{p} UNION SELECT v, u FROM e_{p}),
reach_{p}(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM und_{p})
  UNION
  SELECT r.u, x.v FROM reach_{p} r JOIN und_{p} x ON r.v = x.u),
comp_{p} AS (
  SELECT k.n, coalesce(c.component, k.n) AS comp
  FROM keep_{p} k LEFT JOIN
       (SELECT u AS node, min(v) AS component FROM reach_{p} GROUP BY u) c
    ON c.node = k.n),
sizes_{p} AS (
  SELECT comp, cast(count(*) as bigint) AS sz FROM comp_{p} GROUP BY comp),
summ_{p} AS (
  SELECT cast({p} as bigint) AS p_tenths,
         (SELECT cast(count(*) as bigint) FROM keep_{p}) AS n_nodes,
         (SELECT cast(count(*) as bigint) FROM e_{p}) AS n_edges,
         cast(count(*) as bigint) AS n_components,
         max(sz) AS largest_comp,
         cast(sum(sz*sz) as bigint) AS s2_fragmentation
  FROM sizes_{p})"""
        )
    chain = ",\n".join(per_p)
    finals = " UNION ALL ".join(f"SELECT * FROM summ_{p}" for p in PERC_PS)
    return f"""
WITH RECURSIVE {_SQL_TRI_EDGES},
nodes AS (
  SELECT DISTINCT n FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)),
gated AS (
  SELECT n, ('0x' || substring(md5('perc:' || cast(n as varchar)), 1, 15))
              ::BIGINT % 10 AS g
  FROM nodes),
{chain}
{finals}
"""


O_RANDOM_PERCOLATION = _build_o_percolation()


# ------------------------ truncated Katz centrality (6g)

KATZ_PPM = 1_000_000


def q_katz3_centrality(spark: SparkSession, sf: str) -> DataFrame:
    """Truncated Katz centrality with attenuation beta = 1/2 over
    walks of length <= 3 — ALL-INTEGER: with w1(v) = degree, w2(v) =
    sum of neighbor degrees, w3(v) = sum of neighbor w2, the dyadic
    attenuation makes 8 * katz3 = 4*w1 + 2*w2 + w3 an exact BIGINT
    (Katz 1953 truncated at k=3; walks, not paths — backtracking
    counts, as in the standard matrix-power definition). Between
    degree (local) and pagerank (global fixpoint), Katz-3 is the
    'reach with decay' priority a scheduler can compute in exactly
    two message rounds — and unlike pagerank it needs no float
    iteration, so the driver hash covers every coefficient. Emitted:
    the three walk counts, katz_x8, and the rank.

    100 TB shape: two node-key message aggregations (the
    pagerank/HITS/WL exchange shape) + one bounded rank sort.
    Reference analog: follow-edge expansion priority (SURVEY §2 J5/
    O1) with principled decay instead of a hand-picked mix."""
    edges = _tri_edges(_t(spark, sf, "documents"))
    dirs = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    w1 = dirs.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("w1"))
    w2 = (
        dirs.join(w1.select(F.col("a").alias("b"), F.col("w1").alias("nb_w1")), "b")
        .groupBy("a")
        .agg(F.sum("nb_w1").alias("w2"))
    )
    w3 = (
        dirs.join(w2.select(F.col("a").alias("b"), F.col("w2").alias("nb_w2")), "b")
        .groupBy("a")
        .agg(F.sum("nb_w2").alias("w3"))
    )
    j = w1.join(w2, "a").join(w3, "a").select(
        F.col("a").alias("node"),
        "w1",
        "w2",
        "w3",
        (4 * F.col("w1") + 2 * F.col("w2") + F.col("w3")).alias("katz_x8"),
    )
    rk = F.row_number().over(
        Window.orderBy(F.col("katz_x8").desc(), F.col("node").asc())
    )
    return j.withColumn("katz_rank", rk.cast("long"))


O_KATZ3_CENTRALITY = f"""
WITH {_SQL_TRI_EDGES},
dirs AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
w1 AS (SELECT a, cast(count(*) as bigint) AS w1 FROM dirs GROUP BY a),
w2 AS (
  SELECT dirs.a, cast(sum(n.w1) as bigint) AS w2
  FROM dirs JOIN w1 n ON n.a = dirs.b GROUP BY dirs.a),
w3 AS (
  SELECT dirs.a, cast(sum(n.w2) as bigint) AS w3
  FROM dirs JOIN w2 n ON n.a = dirs.b GROUP BY dirs.a),
j AS (
  SELECT w1.a AS node, w1.w1, w2.w2, w3.w3,
         4 * w1.w1 + 2 * w2.w2 + w3.w3 AS katz_x8
  FROM w1 JOIN w2 ON w2.a = w1.a JOIN w3 ON w3.a = w1.a)
SELECT node, w1, w2, w3, katz_x8,
       cast(row_number() OVER (ORDER BY katz_x8 DESC, node ASC) as bigint)
         AS katz_rank
FROM j
"""


# ------------------------- pagination stitch detection (6g)

STITCH_K = 8       # boundary overlap width in tokens
STITCH_DOCS = 150  # base docs given planted page splits


def q_page_stitch_detect(spark: SparkSession, sf: str) -> DataFrame:
    """Pagination-split reassembly: find document pairs (a, b) where
    a's LAST STITCH_K tokens equal b's FIRST STITCH_K tokens — the
    signature of one logical page crawled as two (infinite-scroll
    pagination, 'continued on next page' splits), which a corpus
    must stitch or window-dedup before training. One equi-join on
    the boundary k-gram key — no all-pairs, no fuzzy matching; the
    boundary width makes accidental collisions vanish (an 8-token
    overlap in a 31-word vocab is ~31^-8 by chance) while every
    planted split is found by construction. Emitted per stitched
    pair: both ids, the boundary fingerprint's md5, and each side's
    token count — enough to drive the actual merge.

    Fixture: every third base doc with >= 2*K tokens is split into
    '_p1' (first half + K overlap) and '_p2' (overlap + second
    half); originals stay in the pool as non-matches. 100 TB shape:
    two map-side boundary-key projections into ONE equi-join on the
    k-gram hash — the exact-dedup exchange shape, never quadratic.
    Reference analog: the reference's truncated-tweet repair
    (fix_truncated) — the multi-document version."""
    d = _t(spark, sf, "documents")
    base = d.where(
        (F.col("doc_id") < STITCH_DOCS)
        & (F.size(F.split(F.col("text"), " ")) >= 2 * STITCH_K)
    )
    toks = F.split(F.col("text"), " ")
    half = (F.size(toks) / 2).cast("int")
    p1 = base.select(
        F.concat(F.col("doc_id").cast("string"), F.lit("_p1")).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, F.lit(1), half + F.lit(STITCH_K))).alias(
            "text"
        ),
    )
    p2 = base.select(
        F.concat(F.col("doc_id").cast("string"), F.lit("_p2")).alias("doc_id"),
        F.concat_ws(
            " ",
            F.slice(toks, half + F.lit(1), F.size(toks) - half),
        ).alias("text"),
    )
    pool = (
        d.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
        .where(F.expr("doc_id % 3 != 0") | (F.col("doc_id") >= STITCH_DOCS))
        .unionByName(
            p1.where(F.expr("cast(substring(doc_id, 1, length(doc_id) - 3) as bigint) % 3 = 0"))
        )
        .unionByName(
            p2.where(F.expr("cast(substring(doc_id, 1, length(doc_id) - 3) as bigint) % 3 = 0"))
        )
    )
    ptoks = F.split(F.col("text"), " ")
    n = F.size(ptoks)
    with_keys = pool.where(n >= STITCH_K).select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.concat_ws(" ", F.slice(ptoks, n - F.lit(STITCH_K - 1), F.lit(STITCH_K)))
        .alias("suffix_k"),
        F.concat_ws(" ", F.slice(ptoks, F.lit(1), F.lit(STITCH_K))).alias(
            "prefix_k"
        ),
    )
    a = with_keys.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_tokens").alias("tokens_a"),
        F.col("suffix_k").alias("k"),
    )
    b = with_keys.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_tokens").alias("tokens_b"),
        F.col("prefix_k").alias("k"),
    )
    return (
        a.join(b, "k")
        .where(F.col("doc_a") != F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.md5("k").alias("boundary_md5"),
            "tokens_a",
            "tokens_b",
        )
    )


O_PAGE_STITCH_DETECT = f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS ts
  FROM documents
  WHERE doc_id < {STITCH_DOCS} AND len(string_split(text, ' ')) >= {2 * STITCH_K}),
p1 AS (
  SELECT cast(doc_id as varchar) || '_p1' AS doc_id,
         array_to_string(ts[1:(len(ts) // 2) + {STITCH_K}], ' ') AS text
  FROM base WHERE doc_id % 3 = 0),
p2 AS (
  SELECT cast(doc_id as varchar) || '_p2' AS doc_id,
         array_to_string(ts[(len(ts) // 2) + 1:len(ts)], ' ') AS text
  FROM base WHERE doc_id % 3 = 0),
pool AS (
  SELECT cast(doc_id as varchar) AS doc_id, text FROM documents
  WHERE doc_id % 3 != 0 OR doc_id >= {STITCH_DOCS}
  UNION ALL SELECT doc_id, text FROM p1
  UNION ALL SELECT doc_id, text FROM p2),
keyed AS (
  SELECT doc_id,
         cast(len(string_split(text, ' ')) as bigint) AS n_tokens,
         array_to_string(
           (string_split(text, ' '))[len(string_split(text, ' ')) - {STITCH_K - 1}:
                                     len(string_split(text, ' '))], ' ')
           AS suffix_k,
         array_to_string((string_split(text, ' '))[1:{STITCH_K}], ' ')
           AS prefix_k
  FROM pool WHERE len(string_split(text, ' ')) >= {STITCH_K})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       md5(a.suffix_k) AS boundary_md5,
       a.n_tokens AS tokens_a, b.n_tokens AS tokens_b
FROM keyed a JOIN keyed b ON a.suffix_k = b.prefix_k
WHERE a.doc_id <> b.doc_id
"""


# -------------------------- Theil-Sen robust slope (6g)

TS_PPM = 1_000_000


def q_theil_sen_slope(spark: SparkSession, sf: str) -> DataFrame:
    """Theil-Sen robust regression of wins against pulls over the
    skewed host fixture — the estimator a fleet uses to ask 'what
    success rate does one extra pull buy' without letting a few
    outlier hosts bend the line (the median of pairwise slopes has a
    29% breakdown point; OLS has 0%). Slopes are RATIONALS dy/dx
    kept as exact integer pairs; the median pick orders them by the
    IEEE division of the two exact integers (identical in both
    engines; ties then break on (dy, dx)), and the chosen slope is
    emitted as its EXACT fraction (dy, dx) plus ppm — the fraction
    is the answer, the double was only the sort key. Emitted: pair
    count, the median-by-rank slope pair, slope_ppm, and for
    comparison the pooled (total wins / total pulls) rate.

    100 TB shape: hosts are bounded, so the pairwise expansion is
    the |hosts|^2 rank-tail regime (at 10^7 hosts production samples
    pairs — the calibration discipline); one sort + one rank pick.
    Reference analog: none — robust-statistics infrastructure for
    the fleet tiers."""
    e = _t(spark, sf, "events")
    win = F.when(
        F.substring(
            F.md5(F.concat(F.lit("ucb:"), F.col("event_id").cast("string"))), 1, 1
        ).isin("1", "3", "5", "7", "9", "b", "d", "f"),
        1,
    ).otherwise(0)
    hh = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("hrs:"), F.col("event_id").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long"),
        F.lit(SHRINK_HOSTS * SHRINK_HOSTS),
    )
    host = F.floor(F.sqrt(hh.cast("double"))).cast("long")
    agg = (
        e.select(host.alias("host"), win.alias("w"))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            F.sum("w").cast("long").alias("y"),
        )
    )
    a, b = agg.alias("a"), agg.alias("b")
    pairs = (
        a.join(b, F.col("a.host") < F.col("b.host"))
        .where(F.col("a.x") != F.col("b.x"))
        .select(
            (F.col("b.y") - F.col("a.y")).alias("dy"),
            (F.col("b.x") - F.col("a.x")).alias("dx"),
        )
        .select(
            F.when(F.col("dx") < 0, -F.col("dy")).otherwise(F.col("dy")).alias("dy"),
            F.abs("dx").alias("dx"),
        )
    )
    n_pairs = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    rn = F.row_number().over(
        Window.orderBy(
            (F.col("dy").cast("double") / F.col("dx").cast("double")).asc(),
            F.col("dy").asc(),
            F.col("dx").asc(),
        )
    )
    med = (
        pairs.withColumn("rn", rn)
        .crossJoin(F.broadcast(n_pairs))
        .where(F.col("rn") == F.expr("(n_pairs + 1) DIV 2"))
        .select("dy", "dx", "n_pairs")
    )
    pooled = agg.agg(
        F.sum("x").alias("sx"), F.sum("y").alias("sy")
    )
    return med.crossJoin(F.broadcast(pooled)).select(
        "n_pairs",
        F.col("dy").alias("slope_dy"),
        F.col("dx").alias("slope_dx"),
        F.expr(
            f"CASE WHEN slope_dy >= 0 THEN (slope_dy * {TS_PPM}) DIV slope_dx"
            f" ELSE -(((-slope_dy) * {TS_PPM}) DIV slope_dx) END"
        ).alias("slope_ppm"),
        F.expr(f"(sy * {TS_PPM}) DIV sx").alias("pooled_rate_ppm"),
    )


O_THEIL_SEN_SLOPE = f"""
WITH per AS (
  SELECT cast(floor(sqrt((('0x' || substring(md5('hrs:' || cast(event_id as varchar)), 1, 15))
                            ::BIGINT % {40 * 40})::double)) as bigint) AS host,
         CASE WHEN substring(md5('ucb:' || cast(event_id as varchar)), 1, 1)
                IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE 0 END AS w
  FROM events),
agg AS (
  SELECT host, cast(count(*) as bigint) AS x, cast(sum(w) as bigint) AS y
  FROM per GROUP BY host),
pairs AS (
  SELECT CASE WHEN (b.x - a.x) < 0 THEN -(b.y - a.y) ELSE (b.y - a.y) END AS dy,
         abs(b.x - a.x) AS dx
  FROM agg a JOIN agg b ON a.host < b.host
  WHERE a.x <> b.x),
np AS (SELECT cast(count(*) as bigint) AS n_pairs FROM pairs),
ranked AS (
  SELECT dy, dx,
         row_number() OVER (ORDER BY cast(dy as double) / cast(dx as double) ASC,
                            dy ASC, dx ASC) AS rn
  FROM pairs),
med AS (
  SELECT dy, dx, np.n_pairs FROM ranked, np
  WHERE rn = (np.n_pairs + 1) // 2),
pooled AS (SELECT cast(sum(x) as bigint) AS sx, cast(sum(y) as bigint) AS sy FROM agg)
SELECT med.n_pairs,
       med.dy AS slope_dy, med.dx AS slope_dx,
       CASE WHEN med.dy >= 0 THEN (med.dy * {TS_PPM}) // med.dx
            ELSE -(((-med.dy) * {TS_PPM}) // med.dx) END AS slope_ppm,
       (pooled.sy * {TS_PPM}) // pooled.sx AS pooled_rate_ppm
FROM med, pooled
"""


# ---------------------- equi-depth histogram edges (6h)

EQD_BUCKETS = 8


def q_equidepth_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-depth histogram construction over the latency fixture —
    the statistics object a cost-based optimizer (and this engine's
    own AQE skew handling) actually consumes: B buckets each holding
    ~n/B values, with EXACT rank-based boundaries (bucket i spans
    ranks (i-1)*n/B+1 .. i*n/B under the integer Hamilton split, so
    bucket populations differ by at most 1 — pinned). Emitted per
    bucket: lo/hi values (exact order statistics via the cumulative-
    count rule, no interpolation) and the exact population.
    column_stats_for_encoding chose the ENCODING; this builds the
    VALUE distribution stats — together they are the stats-collection
    pass of a warehouse ANALYZE.

    100 TB shape: one (value) partial count + a cumulative window
    (the quantile tier's exchange); bucket targets are pure
    arithmetic on ranks. At warehouse scale this runs per partition
    and merges counts — the HDR tier's mergeable discipline with
    exact edges at the merge point."""
    e = _t(spark, sf, "events")
    lat = (
        F.lit(1)
        + F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("tmo:"), F.col("event_id").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(TMO_VALUE_MOD),
        )
    )
    vals = e.select(lat.alias("v"))
    vc = vals.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = vc.withColumn("cum", F.sum("c").over(w))
    n_row = vals.agg(F.count(F.lit(1)).cast("long").alias("n"))
    buckets = spark.range(1, EQD_BUCKETS + 1).select(
        F.col("id").cast("long").alias("b")
    )
    tgt = buckets.crossJoin(F.broadcast(n_row)).select(
        "b",
        "n",
        F.expr(f"((b - 1) * n) DIV {EQD_BUCKETS}").alias("lo_rank"),
        F.expr(f"(b * n) DIV {EQD_BUCKETS}").alias("hi_rank"),
    )
    j = tgt.join(
        cum.select("v", "cum", (F.col("cum") - F.col("c")).alias("cum_prev")),
        (F.col("cum") > F.col("lo_rank")) & (F.col("cum_prev") < F.col("hi_rank")),
    )
    return j.groupBy("b", "lo_rank", "hi_rank").agg(
        F.min("v").alias("lo_value"),
        F.max("v").alias("hi_value"),
    ).select(
        F.col("b").alias("bucket"),
        "lo_value",
        "hi_value",
        (F.col("hi_rank") - F.col("lo_rank")).alias("population"),
    )


O_EQUIDEPTH_EDGES = f"""
WITH vals AS (
  SELECT 1 + ('0x' || substring(md5('tmo:' || cast(event_id as varchar)), 1, 15))
               ::BIGINT % {TMO_VALUE_MOD} AS v
  FROM events),
vc AS (SELECT v, cast(count(*) as bigint) AS c FROM vals GROUP BY v),
cum AS (
  SELECT v, c,
         sum(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM vc),
nrow AS (SELECT cast(count(*) as bigint) AS n FROM vals),
tgt AS (
  SELECT cast(b as bigint) AS b, nrow.n,
         ((b - 1) * nrow.n) // {EQD_BUCKETS} AS lo_rank,
         (b * nrow.n) // {EQD_BUCKETS} AS hi_rank
  FROM (SELECT unnest(range(1, {EQD_BUCKETS} + 1)) AS b), nrow)
SELECT t.b AS bucket,
       min(c.v) AS lo_value,
       max(c.v) AS hi_value,
       cast(t.hi_rank - t.lo_rank as bigint) AS population
FROM tgt t JOIN cum c
  ON c.cum > t.lo_rank AND (c.cum - c.c) < t.hi_rank
GROUP BY t.b, t.lo_rank, t.hi_rank
"""


# -------------------- rate-policy agreement matrix (6h)

POL_TOP_B = 8


def q_rate_policy_agreement(spark: SparkSession, sf: str) -> DataFrame:
    """Do the three rate estimators AGREE on who gets the budget?
    Rank hosts by raw rate, by the Beta(2,2) shrunk rate, and by the
    Wilson lower bound (all three already shipped as their own
    queries over the SAME skewed fixture), take each policy's top
    POL_TOP_B, and emit per host its three ranks, its membership
    flags, and the number of policies that would fund it — the
    decision-level comparison that turns three statistics tiers into
    one answer. Hosts funded by all three are safe; hosts funded
    ONLY by the raw rate are exactly the small-sample flukes the
    robust policies exist to exclude (the fixture guarantees such
    hosts — tested).

    100 TB shape: one groupBy(host), map-side integer scoring for
    all three policies (the Wilson isqrt included), three bounded
    rank sorts — the rank-tail regime, one pass."""
    e = _t(spark, sf, "events")
    win = F.when(
        F.substring(
            F.md5(F.concat(F.lit("ucb:"), F.col("event_id").cast("string"))), 1, 1
        ).isin("1", "3", "5", "7", "9", "b", "d", "f"),
        1,
    ).otherwise(0)
    hh = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("hrs:"), F.col("event_id").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long"),
        F.lit(SHRINK_HOSTS * SHRINK_HOSTS),
    )
    host = F.floor(F.sqrt(hh.cast("double"))).cast("long")
    agg = (
        e.select(host.alias("host"), win.alias("w"))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("w").cast("long").alias("w"),
        )
    )
    arg = F.expr("n * (w * (n - w) + n)")
    s0 = F.floor(F.sqrt(arg.cast("double"))).cast("long")
    isq = (
        F.when((s0 + 1) * (s0 + 1) <= arg, s0 + 1)
        .when(s0 * s0 > arg, s0 - 1)
        .otherwise(s0)
    )
    scored = agg.withColumn("isq", isq).select(
        "host",
        "n",
        "w",
        F.expr(f"(w * {WIL_PPM}) DIV n").alias("raw_ppm"),
        F.expr(f"((w + 2) * {WIL_PPM}) DIV (n + 4)").alias("shrunk_ppm"),
        F.expr(
            f"greatest(((w + 2) * n - 2 * isq) * {WIL_PPM}, 0) DIV (n * (n + 4))"
        ).alias("wilson_lo_ppm"),
    )
    r_raw = F.row_number().over(
        Window.orderBy(F.col("raw_ppm").desc(), F.col("host").asc())
    )
    r_shr = F.row_number().over(
        Window.orderBy(F.col("shrunk_ppm").desc(), F.col("host").asc())
    )
    r_wil = F.row_number().over(
        Window.orderBy(F.col("wilson_lo_ppm").desc(), F.col("host").asc())
    )
    ranked = (
        scored.withColumn("rank_raw", r_raw.cast("long"))
        .withColumn("rank_shrunk", r_shr.cast("long"))
        .withColumn("rank_wilson", r_wil.cast("long"))
    )
    return ranked.select(
        "host",
        "n",
        "w",
        "rank_raw",
        "rank_shrunk",
        "rank_wilson",
        (F.col("rank_raw") <= POL_TOP_B).cast("int").alias("in_top_raw"),
        (F.col("rank_shrunk") <= POL_TOP_B).cast("int").alias("in_top_shrunk"),
        (F.col("rank_wilson") <= POL_TOP_B).cast("int").alias("in_top_wilson"),
        (
            (F.col("rank_raw") <= POL_TOP_B).cast("int")
            + (F.col("rank_shrunk") <= POL_TOP_B).cast("int")
            + (F.col("rank_wilson") <= POL_TOP_B).cast("int")
        ).alias("n_policies"),
    )


O_RATE_POLICY_AGREEMENT = f"""
WITH per AS (
  SELECT cast(floor(sqrt((('0x' || substring(md5('hrs:' || cast(event_id as varchar)), 1, 15))
                            ::BIGINT % {40 * 40})::double)) as bigint) AS host,
         CASE WHEN substring(md5('ucb:' || cast(event_id as varchar)), 1, 1)
                IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE 0 END AS w
  FROM events),
agg AS (
  SELECT host, cast(count(*) as bigint) AS n, cast(sum(w) as bigint) AS w
  FROM per GROUP BY host),
r0 AS (
  SELECT *,
         cast(floor(sqrt(cast(n * (w * (n - w) + n) as double))) as bigint)
           AS s0,
         n * (w * (n - w) + n) AS arg
  FROM agg),
sc AS (
  SELECT host, n, w,
         (w * {WIL_PPM}) // n AS raw_ppm,
         ((w + 2) * {WIL_PPM}) // (n + 4) AS shrunk_ppm,
         greatest(((w + 2) * n - 2 *
           (CASE WHEN (s0+1)*(s0+1) <= arg THEN s0+1
                 WHEN s0*s0 > arg THEN s0-1 ELSE s0 END)) * {WIL_PPM}, 0)
           // (n * (n + 4)) AS wilson_lo_ppm
  FROM r0),
rk AS (
  SELECT *,
         cast(row_number() OVER (ORDER BY raw_ppm DESC, host ASC) as bigint)
           AS rank_raw,
         cast(row_number() OVER (ORDER BY shrunk_ppm DESC, host ASC) as bigint)
           AS rank_shrunk,
         cast(row_number() OVER (ORDER BY wilson_lo_ppm DESC, host ASC) as bigint)
           AS rank_wilson
  FROM sc)
SELECT host, n, w, rank_raw, rank_shrunk, rank_wilson,
       cast(CASE WHEN rank_raw <= {POL_TOP_B} THEN 1 ELSE 0 END as int)
         AS in_top_raw,
       cast(CASE WHEN rank_shrunk <= {POL_TOP_B} THEN 1 ELSE 0 END as int)
         AS in_top_shrunk,
       cast(CASE WHEN rank_wilson <= {POL_TOP_B} THEN 1 ELSE 0 END as int)
         AS in_top_wilson,
       cast(CASE WHEN rank_raw <= {POL_TOP_B} THEN 1 ELSE 0 END
            + CASE WHEN rank_shrunk <= {POL_TOP_B} THEN 1 ELSE 0 END
            + CASE WHEN rank_wilson <= {POL_TOP_B} THEN 1 ELSE 0 END as bigint)
         AS n_policies
FROM rk
"""


# ---------------------- session threshold sweep (6i)

SESS_GRID = (300, 900, 1800, 3600, 7200)  # idle gap thresholds (s)
SESS_PPM = 1_000_000


def q_session_threshold_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Idle-threshold tuning curve for sessionization: for each
    candidate gap threshold T, the exact session count (sessions =
    users + gaps exceeding T — each long gap opens one new session)
    and the mean session length in events (ppm) — the elbow curve
    that justifies the 1800 s the streaming sessionizer
    (s3_stream_sessions) hard-codes. Gaps are computed ONCE (the
    timing tier's lag window); every threshold is then one
    conditional count over the same gap rows — |grid| column sweeps,
    not |grid| passes, the metronome_roc discipline.

    100 TB shape: one per-user ordered lag scan + one aggregation;
    the sweep output is |grid| rows. Reference analog: choosing the
    session window for the reference's burst/dialogue analytics
    (SURVEY §2 W4/w_sessionize), done as a measured curve instead of
    a convention."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("s").asc(), F.col("event_id").asc()
    )
    base = e.select(
        "user_id", "event_id", F.unix_timestamp("ts").cast("long").alias("s")
    )
    gaps = base.withColumn("g", F.col("s") - F.lag("s").over(w))
    n_users_events = gaps.agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    out = None
    for t in SESS_GRID:
        agg = gaps.agg(
            F.sum(F.when(F.col("g") > t, 1).otherwise(0)).cast("long").alias(
                "n_breaks"
            )
        )
        row = agg.crossJoin(F.broadcast(n_users_events)).select(
            F.lit(t).cast("long").alias("threshold_s"),
            (F.col("n_users") + F.col("n_breaks")).alias("n_sessions"),
            "n_events",
            F.expr(
                f"(n_events * {SESS_PPM}) DIV (n_users + n_breaks)"
            ).alias("mean_len_ppm"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def _build_o_session_sweep() -> str:
    rows = []
    for t in SESS_GRID:
        rows.append(
            f"""SELECT cast({t} as bigint) AS threshold_s,
       (SELECT cast(count(DISTINCT user_id) as bigint) FROM events)
         + cast(sum(CASE WHEN g > {t} THEN 1 ELSE 0 END) as bigint)
         AS n_sessions,
       cast(count(*) as bigint) AS n_events,
       (cast(count(*) as bigint) * {SESS_PPM})
         // ((SELECT cast(count(DISTINCT user_id) as bigint) FROM events)
             + cast(sum(CASE WHEN g > {t} THEN 1 ELSE 0 END) as bigint))
         AS mean_len_ppm
FROM gaps"""
        )
    union = "\nUNION ALL\n".join(rows)
    return f"""
WITH sec AS (
  SELECT user_id, event_id, cast(floor(epoch(ts)) as bigint) AS s
  FROM events),
gaps AS (
  SELECT user_id,
         s - lag(s) OVER (PARTITION BY user_id ORDER BY s ASC, event_id ASC)
           AS g
  FROM sec)
{union}
"""


O_SESSION_THRESHOLD_SWEEP = _build_o_session_sweep()


# -------------------------- p95/p99 SLO conformance (6i)

SLO_P95_US = 190_000
SLO_HOSTS = 12
SLO_PPM = 1_000_000


def q_p95_slo_conformance(spark: SparkSession, sf: str) -> DataFrame:
    """Per-host p95/p99 latency with SLO conformance — the ops tier
    above the median: exact ceil-rank order statistics (smallest v
    whose cumulative count reaches ceil(q*n/100) — percentile_disc
    semantics, integer output), the conforming flag p95 <= SLO, and
    the exact count and share of fetches over the SLO value (the
    error-budget spend, the same quantity burn_rate_alerts meters
    over time, here as the per-host standing position). All
    integers.

    100 TB shape: the quantile tier's (host, value) partial count +
    cumulative window; the SLO columns are map-side. At warehouse
    scale the same rule runs over hdr_quantiles' buckets."""
    e = _t(spark, sf, "events")
    lat = (
        F.lit(1)
        + F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("tmo:"), F.col("event_id").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(TMO_VALUE_MOD),
        )
    )
    base = e.select(
        F.pmod(F.col("user_id"), F.lit(SLO_HOSTS)).alias("host"), lat.alias("v")
    )
    # vc is a lossless summary of base shared verbatim by every rank
    # probe, so its (host, v) exchange is computed once and reused
    # (ReusedExchange) — the md5-synthesized base is scanned ONCE
    vc = base.groupBy("host", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = Window.partitionBy("host").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = vc.withColumn("cum", F.sum("c").over(w)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("host"))
    )
    p95 = (
        cum.where(F.col("cum") >= F.expr("(95 * n + 99) DIV 100"))
        .groupBy("host", "n")
        .agg(F.min("v").alias("p95_us"))
    )
    p99 = (
        cum.where(F.col("cum") >= F.expr("(99 * n + 99) DIV 100"))
        .groupBy("host")
        .agg(F.min("v").alias("p99_us"))
    )
    over = vc.groupBy("host").agg(
        F.sum(F.when(F.col("v") > SLO_P95_US, F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_over_slo")
    )
    return (
        p95.join(p99, "host")
        .join(over, "host")
        .select(
            "host",
            F.col("n").alias("n_fetches"),
            "p95_us",
            "p99_us",
            "n_over_slo",
            F.expr(f"(n_over_slo * {SLO_PPM}) DIV n").alias("over_slo_ppm"),
            (F.col("p95_us") <= SLO_P95_US).cast("int").alias("conforms"),
        )
    )


O_P95_SLO_CONFORMANCE = f"""
WITH base AS (
  SELECT user_id % {SLO_HOSTS} AS host,
         1 + ('0x' || substring(md5('tmo:' || cast(event_id as varchar)), 1, 15))
               ::BIGINT % {TMO_VALUE_MOD} AS v
  FROM events),
vc AS (SELECT host, v, cast(count(*) as bigint) AS c FROM base GROUP BY host, v),
cum AS (
  SELECT host, v, c,
         sum(c) OVER (PARTITION BY host ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(c) OVER (PARTITION BY host) AS n
  FROM vc),
p95 AS (
  SELECT host, n, min(v) AS p95_us
  FROM cum WHERE cum >= (95 * n + 99) // 100 GROUP BY host, n),
p99 AS (
  SELECT host, min(v) AS p99_us
  FROM cum WHERE cum >= (99 * n + 99) // 100 GROUP BY host),
over_ AS (
  SELECT host, cast(sum(CASE WHEN v > {SLO_P95_US} THEN 1 ELSE 0 END) as bigint)
           AS n_over_slo
  FROM base GROUP BY host)
SELECT p95.host, cast(p95.n as bigint) AS n_fetches, p95.p95_us, p99.p99_us,
       over_.n_over_slo,
       cast((over_.n_over_slo * {SLO_PPM}) // p95.n as bigint) AS over_slo_ppm,
       cast(CASE WHEN p95.p95_us <= {SLO_P95_US} THEN 1 ELSE 0 END as int)
         AS conforms
FROM p95 JOIN p99 ON p99.host = p95.host JOIN over_ ON over_.host = p95.host
"""


# ------------------------ arrival seasonality profile (6j)

SEAS_PPM = 1_000_000


def q_arrival_seasonality(spark: SparkSession, sf: str) -> DataFrame:
    """Hour-of-day x day-of-week arrival profile with the exact
    deviation-from-uniform mass — the seasonality map a crawl
    planner reads before placing big recrawl jobs (schedule them
    into the fleet's quiet cells) and a change-detection baseline
    (a flat profile that develops peaks means a new traffic source).
    Per (dow, hour) cell: arrivals and the signed exact deviation
    numerator obs*C - N (with C = 168 cells; positive = hotter than
    uniform), plus |dev| in ppm of the uniform expectation. The cell
    grid is closed (all 168 cells emitted, zeros included) so the
    driver hash pins the quiet cells too.

    100 TB shape: one partial-aggregated groupBy over a
    168-cardinality key joined against a broadcast closed grid.
    Reference analog: the reference's tweet-volume daily/hourly
    censuses (SURVEY §2 A11/A12 time series), re-read as a
    scheduling input."""
    e = _t(spark, sf, "events")
    base = e.select(
        F.dayofweek("ts").cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hour"),
    )
    counts = base.groupBy("dow", "hour").agg(
        F.count(F.lit(1)).cast("long").alias("arrivals")
    )
    dows = spark.range(1, 8).select(F.col("id").cast("long").alias("dow"))
    hours = spark.range(0, 24).select(F.col("id").cast("long").alias("hour"))
    grid = dows.crossJoin(hours)
    n_row = base.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    full = (
        grid.join(counts, ["dow", "hour"], "left")
        .fillna({"arrivals": 0})
        .crossJoin(F.broadcast(n_row))
    )
    dev = F.col("arrivals") * 168 - F.col("n_total")
    return full.select(
        "dow",
        "hour",
        "arrivals",
        dev.alias("dev_num"),
        F.expr(f"(abs(arrivals * 168 - n_total) * {SEAS_PPM}) DIV n_total").alias(
            "abs_dev_ppm"
        ),
    )


O_ARRIVAL_SEASONALITY = f"""
WITH base AS (
  SELECT cast(dayofweek(ts) + 1 as bigint) AS dow,
         cast(hour(ts) as bigint) AS hour
  FROM events),
counts AS (
  SELECT dow, hour, cast(count(*) as bigint) AS arrivals
  FROM base GROUP BY dow, hour),
grid AS (
  SELECT cast(d as bigint) AS dow, cast(h as bigint) AS hour
  FROM (SELECT unnest(range(1, 8)) AS d), (SELECT unnest(range(0, 24)) AS h)),
nrow AS (SELECT cast(count(*) as bigint) AS n_total FROM base)
SELECT g.dow, g.hour,
       coalesce(c.arrivals, 0) AS arrivals,
       coalesce(c.arrivals, 0) * 168 - nrow.n_total AS dev_num,
       (abs(coalesce(c.arrivals, 0) * 168 - nrow.n_total) * {SEAS_PPM})
         // nrow.n_total AS abs_dev_ppm
FROM grid g LEFT JOIN counts c ON c.dow = g.dow AND c.hour = g.hour
CROSS JOIN nrow
"""


# ----------------------- failure streaks and backoff (6k)

STREAK_HOSTS = 12
STREAK_CAP = 6  # backoff exponent cap: delay = 2^min(streak, cap) rounds


def q_failure_streaks(spark: SparkSession, sf: str) -> DataFrame:
    """Consecutive-failure streaks per host via the gaps-and-islands
    pattern — the input to an exponential-backoff ladder: group each
    host's fetch log (in event order) into runs of equal outcome
    using the rn - rn_per_outcome island key (the classic SQL
    identity: consecutive equal values share the difference of the
    two row_numbers), then report the LONGEST error streak, the
    CURRENT streak (the tail run if it is an error run), the implied
    backoff exponent min(current, cap), and the backoff delay 2^k
    rounds — all exact integers (the power is dyadic, computed as a
    left shift via multiplication). A host ending on a long error
    run gets parked for 2^k rounds; the longest-streak column is the
    forensic 'how bad did it get'.

    100 TB shape: two per-host ordered window scans (the lag-tier
    shape) + one island rollup; |hosts| output rows. Reference
    analog: the reference's per-account backoff bookkeeping (SURVEY
    §2 S1 error paths), derived from the log instead of carried as
    mutable state."""
    e = _t(spark, sf, "events")
    err = F.when(
        F.substring(
            F.md5(F.concat(F.lit("brn:"), F.col("event_id").cast("string"))), 1, 1
        ).isin("1", "3", "5"),
        1,
    ).otherwise(0)
    base = e.select(
        F.pmod(F.col("user_id"), F.lit(STREAK_HOSTS)).alias("host"),
        F.col("event_id"),
        err.alias("e"),
    )
    w_all = Window.partitionBy("host").orderBy("event_id")
    w_out = Window.partitionBy("host", "e").orderBy("event_id")
    isl = base.withColumn(
        "island",
        F.row_number().over(w_all).cast("long")
        - F.row_number().over(w_out).cast("long"),
    )
    runs = isl.groupBy("host", "e", "island").agg(
        F.count(F.lit(1)).cast("long").alias("run_len"),
        F.max("event_id").alias("last_eid"),
    )
    longest = runs.where(F.col("e") == 1).groupBy("host").agg(
        F.max("run_len").alias("longest_err_streak")
    )
    last_run = runs.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("host").orderBy(F.col("last_eid").desc())
        ),
    ).where(F.col("rn") == 1)
    current = last_run.select(
        "host",
        F.when(F.col("e") == 1, F.col("run_len"))
        .otherwise(F.lit(0).cast("long"))
        .alias("current_err_streak"),
    )
    j = longest.join(current, "host")
    k = F.least(F.col("current_err_streak"), F.lit(STREAK_CAP).cast("long"))
    # 2^k as a product of dyadic factors: shift via conv-free exact expr
    delay = F.expr(
        f"CASE WHEN least(current_err_streak, {STREAK_CAP}) = 0 THEN 1 "
        + " ".join(
            f"WHEN least(current_err_streak, {STREAK_CAP}) = {i} THEN {2**i}"
            for i in range(1, STREAK_CAP + 1)
        )
        + " END"
    )
    return j.select(
        "host",
        "longest_err_streak",
        "current_err_streak",
        k.alias("backoff_exp"),
        delay.cast("long").alias("backoff_delay_rounds"),
    )


O_FAILURE_STREAKS = f"""
WITH base AS (
  SELECT user_id % {STREAK_HOSTS} AS host, event_id,
         CASE WHEN substring(md5('brn:' || cast(event_id as varchar)), 1, 1)
                IN ('1','3','5') THEN 1 ELSE 0 END AS e
  FROM events),
isl AS (
  SELECT *,
         cast(row_number() OVER (PARTITION BY host ORDER BY event_id) as bigint)
           - cast(row_number() OVER (PARTITION BY host, e ORDER BY event_id)
                  as bigint) AS island
  FROM base),
runs AS (
  SELECT host, e, island, cast(count(*) as bigint) AS run_len,
         max(event_id) AS last_eid
  FROM isl GROUP BY host, e, island),
longest AS (
  SELECT host, cast(max(run_len) as bigint) AS longest_err_streak
  FROM runs WHERE e = 1 GROUP BY host),
last_run AS (
  SELECT host, e, run_len
  FROM (SELECT *, row_number() OVER (PARTITION BY host
                                     ORDER BY last_eid DESC) AS rn
        FROM runs)
  WHERE rn = 1),
current AS (
  SELECT host,
         CASE WHEN e = 1 THEN run_len ELSE 0 END AS current_err_streak
  FROM last_run)
SELECT l.host, l.longest_err_streak,
       cast(c.current_err_streak as bigint) AS current_err_streak,
       cast(least(c.current_err_streak, {STREAK_CAP}) as bigint) AS backoff_exp,
       cast(CASE least(c.current_err_streak, {STREAK_CAP})
         {' '.join(f'WHEN {i} THEN {2**i}' for i in range(0, STREAK_CAP + 1))}
       END as bigint) AS backoff_delay_rounds
FROM longest l JOIN current c ON c.host = l.host
"""


# -------------------- distribution-free median CI (6k)

MCI_HOSTS = 12
MCI_Z2 = 2  # z ~ 2: rank offset = z/2 * sqrt(n) -> isqrt(n), exact


def q_median_ci_rank(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution-free confidence band for each host's median
    latency via the binomial order-statistic argument: the true
    median lies between order statistics at ranks n/2 -/+
    (z/2)*sqrt(n) with ~95% coverage for z=2 — NO distributional
    assumption, NO bootstrap, and with the exact floor-isqrt the
    rank offsets are exact integers (lo_rank = max(1, (n DIV 2) -
    isqrt(n)), hi_rank = min(n, (n DIV 2) + 1 + isqrt(n))). Emitted
    per host: the median (ceil-rank), the CI's lo/hi VALUES (exact
    order statistics), and the CI width — the quantile tier's
    uncertainty statement, completing p50 (host_latency_quantiles) /
    EWMA (drift) / KS (shape) with 'how sure are we'.

    100 TB shape: the quantile tier's (host, value) partial count +
    cumulative window; three rank probes ride the same scan.
    Reference analog: none — fleet-statistics infrastructure."""
    e = _t(spark, sf, "events")
    lat = (
        F.lit(1)
        + F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("tmo:"), F.col("event_id").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(TMO_VALUE_MOD),
        )
    )
    base = e.select(
        F.pmod(F.col("user_id"), F.lit(MCI_HOSTS)).alias("host"), lat.alias("v")
    )
    # vc is a lossless summary of base shared verbatim by every rank
    # probe, so its (host, v) exchange is computed once and reused
    # (ReusedExchange) — the md5-synthesized base is scanned ONCE
    vc = base.groupBy("host", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = Window.partitionBy("host").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = vc.withColumn("cum", F.sum("c").over(w)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("host"))
    )
    s0 = F.floor(F.sqrt(F.col("n").cast("double"))).cast("long")
    isq = (
        F.when((s0 + 1) * (s0 + 1) <= F.col("n"), s0 + 1)
        .when(s0 * s0 > F.col("n"), s0 - 1)
        .otherwise(s0)
    )
    ranks = cum.withColumn("isq", isq).withColumn(
        "lo_rank", F.expr("greatest(n DIV 2 - isq, 1)")
    ).withColumn("hi_rank", F.expr("least(n DIV 2 + 1 + isq, n)")).withColumn(
        "med_rank", F.expr("(n + 1) DIV 2")
    )
    med = (
        ranks.where(F.col("cum") >= F.col("med_rank"))
        .groupBy("host", "n")
        .agg(F.min("v").alias("median_us"))
    )
    lo = (
        ranks.where(F.col("cum") >= F.col("lo_rank"))
        .groupBy("host")
        .agg(F.min("v").alias("ci_lo_us"))
    )
    hi = (
        ranks.where(F.col("cum") >= F.col("hi_rank"))
        .groupBy("host")
        .agg(F.min("v").alias("ci_hi_us"))
    )
    return (
        med.join(lo, "host")
        .join(hi, "host")
        .select(
            "host",
            F.col("n").alias("n_fetches"),
            "median_us",
            "ci_lo_us",
            "ci_hi_us",
            (F.col("ci_hi_us") - F.col("ci_lo_us")).alias("ci_width_us"),
        )
    )


O_MEDIAN_CI_RANK = f"""
WITH base AS (
  SELECT user_id % {MCI_HOSTS} AS host,
         1 + ('0x' || substring(md5('tmo:' || cast(event_id as varchar)), 1, 15))
               ::BIGINT % {TMO_VALUE_MOD} AS v
  FROM events),
vc AS (SELECT host, v, cast(count(*) as bigint) AS c FROM base GROUP BY host, v),
cum AS (
  SELECT host, v, c,
         sum(c) OVER (PARTITION BY host ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(c) OVER (PARTITION BY host) AS n
  FROM vc),
rk AS (
  SELECT *,
         (CASE WHEN (cast(floor(sqrt(cast(n as double))) as bigint) + 1)
                    * (cast(floor(sqrt(cast(n as double))) as bigint) + 1) <= n
               THEN cast(floor(sqrt(cast(n as double))) as bigint) + 1
               WHEN cast(floor(sqrt(cast(n as double))) as bigint)
                    * cast(floor(sqrt(cast(n as double))) as bigint) > n
               THEN cast(floor(sqrt(cast(n as double))) as bigint) - 1
               ELSE cast(floor(sqrt(cast(n as double))) as bigint) END) AS isq
  FROM cum),
med AS (
  SELECT host, cast(n as bigint) AS n, min(v) AS median_us
  FROM rk WHERE cum >= (n + 1) // 2 GROUP BY host, n),
lo AS (
  SELECT host, min(v) AS ci_lo_us
  FROM rk WHERE cum >= greatest(n // 2 - isq, 1) GROUP BY host),
hi AS (
  SELECT host, min(v) AS ci_hi_us
  FROM rk WHERE cum >= least(n // 2 + 1 + isq, n) GROUP BY host)
SELECT med.host, med.n AS n_fetches, med.median_us,
       lo.ci_lo_us, hi.ci_hi_us,
       hi.ci_hi_us - lo.ci_lo_us AS ci_width_us
FROM med JOIN lo ON lo.host = med.host JOIN hi ON hi.host = med.host
"""


# -------------------- anchor vs content agreement (6l)

ACA_PPM = 1_000_000


def q_anchor_content_agreement(spark: SparkSession, sf: str) -> DataFrame:
    """Anchor-text relevance audit: for every target host, how well
    do the anchor words other hosts use when LINKING to it agree
    with the words actually ON it (the text spans of its fetched
    documents)? Per target host: distinct anchor terms, distinct
    content terms, the exact intersection, and agreement as the ppm
    share of anchor terms found in content — high agreement means
    inbound anchors are descriptive (good ranking signal, and
    anchor_text's aggregation is trustworthy for that host); low
    agreement flags deceptive linking or topic drift. Runs on two
    engine surfaces at once — the outlink-anchor expansion and the
    fetched span text — joined by target host.

    100 TB shape: both term sets partial-aggregate as (host, term)
    distincts (bounded by the vocabulary); the agreement join is on
    the (host, term) key — the anchor side is tiny relative to the
    corpus. Reference analog: mention-text vs profile-text agreement
    in the reference's entity tiers (SURVEY §2 S11/F-family),
    re-keyed host-to-host."""
    _, plan = _plan(spark, sf)
    links = discover_outlinks_anchored(fetch_results(plan), N_HOSTS)
    tgt = F.regexp_extract("url", r"^https://h(\d+)\.", 1).cast("long")
    anchors = links.select(
        tgt.alias("host"), F.col("anchor").alias("term")
    ).distinct()
    docs = fetch_documents(plan, ROUND_NO).dropDuplicates(["doc_id"])
    content = (
        docs.select(
            F.substring("host", 2, 10).cast("long").alias("host"),
            F.explode(
                F.flatten(
                    F.transform(
                        F.filter(F.col("spans"), lambda s: s["kind"] == "text"),
                        lambda s: F.split(s["text"], " "),
                    )
                )
            ).alias("term"),
        )
        .where(F.col("term") != "")
        .distinct()
    )
    a_cnt = anchors.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_anchor_terms")
    )
    c_cnt = content.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_content_terms")
    )
    inter = (
        anchors.join(content, ["host", "term"])
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        a_cnt.join(c_cnt, "host")
        .join(inter, "host", "left")
        .fillna({"n_shared": 0})
        .select(
            "host",
            "n_anchor_terms",
            "n_content_terms",
            "n_shared",
            F.expr(f"(n_shared * {ACA_PPM}) DIV n_anchor_terms").alias(
                "agreement_ppm"
            ),
        )
    )


def _build_o_anchor_agreement() -> str:
    n_out = f"(({_stream('u', docspec._S_NOUT)}) % 4)::BIGINT"
    th = f"(({_stream('u', docspec._S_OUTHOST, 'j')}) % {N_HOSTS})::BIGINT"
    anchor = f"({_VOCAB_SQL})[(1 + ({_stream('u', docspec._S_ANCHOR, 'j')}) % 32)::BIGINT]"
    kind = lambda v: f"(CASE WHEN ({_stream('d', docspec._S_KIND, v)}) % 3 < 2 THEN 't' ELSE 'm' END)"  # noqa: E731
    word = (
        f"({_VOCAB_SQL})[(1 + ({_stream('d', docspec._S_WORD, 'k*16+t')}) % 32)::BIGINT]"
    )
    nwords = f"(1 + ({_stream('d', docspec._S_NWORDS, 'k')}) % 6)::BIGINT"
    return f"""
WITH {_SQL_PLAN_BASE},
st AS (SELECT host AS src_host, (url_hash)::HUGEINT AS u FROM plan),
st2 AS (SELECT *, ({_stream('u', docspec._S_STATUS)}) % 100 AS r100 FROM st),
okl AS (SELECT src_host, u, {n_out} AS nout FROM st2 WHERE r100 < 88),
lj AS (SELECT src_host, u, unnest(range(0, nout)) AS j FROM okl),
anchors AS (
  SELECT DISTINCT {th} AS host, {anchor} AS term FROM lj),
okd AS (SELECT src_host, u, (1 + ({_stream('u', docspec._S_NDOCS)}) % 4)::BIGINT AS nd
        FROM st2 WHERE r100 < 88),
dk AS (SELECT cast(substring(src_host, 2) as bigint) AS host,
              ({_stream('u', docspec._S_DOCKEY, '256 + j')}) AS d
       FROM (SELECT src_host, u, unnest(range(0, nd)) AS j FROM okd)),
dd AS (SELECT host, d, (1 + ({_stream('d', docspec._S_NSPANS)}) % 8)::BIGINT AS nsp
       FROM dk),
content AS (
  SELECT DISTINCT host, term FROM (
    SELECT host, unnest(words) AS term FROM (
      SELECT host,
             flatten(list_transform(
               list_filter(range(0, nsp), k -> {kind('k')} = 't'),
               k -> list_transform(range(0, {nwords}), t -> {word})))
               AS words
      FROM dd))
  WHERE term != ''),
a_cnt AS (
  SELECT host, cast(count(*) as bigint) AS n_anchor_terms
  FROM anchors GROUP BY host),
c_cnt AS (
  SELECT host, cast(count(*) as bigint) AS n_content_terms
  FROM content GROUP BY host),
inter AS (
  SELECT a.host, cast(count(*) as bigint) AS n_shared
  FROM anchors a JOIN content c ON c.host = a.host AND c.term = a.term
  GROUP BY a.host)
SELECT a_cnt.host, a_cnt.n_anchor_terms, c_cnt.n_content_terms,
       coalesce(inter.n_shared, 0) AS n_shared,
       (coalesce(inter.n_shared, 0) * {ACA_PPM}) // a_cnt.n_anchor_terms
         AS agreement_ppm
FROM a_cnt JOIN c_cnt ON c_cnt.host = a_cnt.host
LEFT JOIN inter ON inter.host = a_cnt.host
"""


O_ANCHOR_CONTENT_AGREEMENT = _build_o_anchor_agreement()


# ------------------- exact 1-D earth mover distance (6m)

EMD_HOSTS = 12
EMD_PPM = 1_000_000


def q_emd_latency_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 1-D earth-mover (Wasserstein-1) distance per host
    against the pooled latency distribution — the INTEGRAL companion
    of ks_latency_drift's max: in one dimension EMD equals the sum
    of |CDF differences| across the value grid times the step
    widths, and with cross-multiplied integer CDFs that sum is an
    exact BIGINT (sum over consecutive grid values of |cum_h*n_all -
    cum_all*n_h| * (v_next - v)). KS flags a single worst point; EMD
    measures the total transport a drifted host's distribution needs
    — small persistent shifts that never spike the KS max still
    accumulate EMD. Emitted per host: the exact EMD numerator, the
    normalized EMD in microseconds (numerator DIV (n_h * n_all)),
    and its share of the value range in ppm.

    100 TB shape: the KS query's exchange exactly (merged grid +
    cumulative windows) plus one lead() for step widths; the rollup
    partial-aggregates. At warehouse scale it runs over
    hdr_quantiles' buckets — EMD over bucket midpoints."""
    e = _t(spark, sf, "events")
    lat = (
        F.lit(1)
        + F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("tmo:"), F.col("event_id").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(TMO_VALUE_MOD),
        )
    )
    base = e.select(
        F.pmod(F.col("user_id"), F.lit(EMD_HOSTS)).alias("host"), lat.alias("v")
    )
    # hv is a lossless summary of base (every event lands in exactly one
    # (host, v) cell), so totals / n_all / the value grid are rollups of
    # hv — the identical hv subtree under every consumer lets Spark
    # reuse ONE (host, v) exchange (ReusedExchange), so the
    # md5-synthesized base is scanned once instead of five times
    # (guide §2.4); no checkpoint: a materialization barrier measured
    # slower than plain exchange reuse here
    hv = base.groupBy("host", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    totals = hv.groupBy("host").agg(F.sum("c").alias("n_h"))
    # the EMD integral needs both CDFs at every distinct v. Instead of
    # the |hosts| x |values| zero-filled grid + cumulative/lead windows
    # (12-way-parallel sorts of ~2.4M rows) + two join-backs, ship each
    # host its cells AND one replicated copy of the pooled per-value
    # counts through ONE hash exchange and do the exact int64 CDF walk
    # in numpy per host (guide §4.2 — the r6 kernel pattern). Identical
    # integer arithmetic: pieces are |cum_h*n_all - cum_all*n_h| times
    # the grid step, summed (exact ints, order-free); the last grid
    # point contributes no piece, matching the lead()-null filter.
    allv = hv.groupBy("v").agg(F.sum("c").alias("ca"))
    cells = hv.select("host", "v", "c", F.lit(0).alias("tag")).unionByName(
        allv.crossJoin(totals.select("host")).select(
            "host", "v", F.col("ca").alias("c"), F.lit(1).alias("tag")
        )
    )

    def emd_host(pdf):
        import numpy as np
        import pandas as pd

        tag = pdf["tag"].to_numpy()
        g = pdf[tag == 1].sort_values("v")
        hrows = pdf[tag == 0]
        v = g["v"].to_numpy(np.int64)
        if len(v) < 2:  # single grid point: no pieces (lead() is null)
            return pd.DataFrame(
                {"host": [], "n_h": [], "emd_num": [], "n_all": []}
            ).astype("int64")
        cum_all = np.cumsum(g["c"].to_numpy(np.int64))
        n_all = int(cum_all[-1])
        hc = np.zeros(len(v), dtype=np.int64)
        pos = np.searchsorted(v, hrows["v"].to_numpy(np.int64))
        hc[pos] = hrows["c"].to_numpy(np.int64)
        cum_h = np.cumsum(hc)
        n_h = int(cum_h[-1])
        piece = np.abs(cum_h[:-1] * n_all - cum_all[:-1] * n_h) * np.diff(v)
        return pd.DataFrame(
            {
                "host": [int(pdf["host"].iloc[0])],
                "n_h": [n_h],
                "emd_num": [int(piece.sum())],
                "n_all": [n_all],
            }
        )

    agg = cells.groupBy("host").applyInPandas(
        emd_host, "host long, n_h long, emd_num long, n_all long"
    )
    return agg.select(
        "host",
        "n_h",
        "emd_num",
        F.expr("emd_num DIV (n_h * n_all)").alias("emd_us"),
        F.expr(
            f"(emd_num DIV (n_h * n_all)) * {EMD_PPM} DIV {TMO_VALUE_MOD}"
        ).alias("emd_range_ppm"),
    )


O_EMD_LATENCY_DRIFT = f"""
WITH base AS (
  SELECT user_id % {EMD_HOSTS} AS host,
         1 + ('0x' || substring(md5('tmo:' || cast(event_id as varchar)), 1, 15))
               ::BIGINT % {TMO_VALUE_MOD} AS v
  FROM events),
hv AS (
  SELECT host, v, cast(count(*) as bigint) AS c FROM base GROUP BY host, v),
totals AS (
  SELECT host, cast(count(*) as bigint) AS n_h FROM base GROUP BY host),
nall AS (SELECT cast(count(*) as bigint) AS n_all FROM base),
grid AS (
  SELECT t.host, g.v FROM (SELECT DISTINCT v FROM base) g, totals t),
cells AS (
  SELECT grid.host, grid.v, coalesce(hv.c, 0) AS c
  FROM grid LEFT JOIN hv ON hv.host = grid.host AND hv.v = grid.v),
cumh AS (
  SELECT host, v,
         sum(c) OVER (PARTITION BY host ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_h,
         lead(v) OVER (PARTITION BY host ORDER BY v) AS v_next
  FROM cells),
alls AS (
  SELECT v, sum(count(*)) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_all
  FROM base GROUP BY v),
j AS (
  SELECT c.host, t.n_h, nall.n_all,
         abs(c.cum_h * nall.n_all - a.cum_all * t.n_h)
           * (c.v_next - c.v) AS piece
  FROM cumh c
  JOIN alls a ON a.v = c.v
  JOIN totals t ON t.host = c.host
  CROSS JOIN nall
  WHERE c.v_next IS NOT NULL)
SELECT host, n_h,
       cast(sum(piece) as bigint) AS emd_num,
       cast(sum(piece) as bigint) // (n_h * max(n_all)) AS emd_us,
       (cast(sum(piece) as bigint) // (n_h * max(n_all))) * {EMD_PPM}
         // {TMO_VALUE_MOD} AS emd_range_ppm
FROM j GROUP BY host, n_h
"""


# ---------------------- joint timeout x retry cost (6m)

TRC_RETRIES = 3
TRC_PPM = 1_000_000


def q_timeout_retry_cost(spark: SparkSession, sf: str) -> DataFrame:
    """JOINT timeout/retry policy cost: under timeout T, a fetch is
    lost with probability p(T) = n_lost/n (timeout_sweep's exact
    count) and each attempt costs spent(T)/n expected microseconds
    (the truncated mean); with up to TRC_RETRIES retries the
    expected attempts are the truncated geometric series in p(T)
    (retry_cost_forecast's arithmetic) — so the expected total time
    per URL is their PRODUCT, an exact rational whose ppm/us values
    this query emits per (host, timeout) cell: lower timeouts cost
    retries, higher timeouts cost per-attempt time, and the emitted
    grid is exactly the surface a fleet minimizes over. All BIGINT:
    expected_us = (series_num * spent) DIV (n^R * n) with every
    factor exact.

    100 TB shape: one (host, timeout) partial aggregation (the
    timeout_sweep exchange) + map-side series arithmetic; |hosts| x
    |grid| rows. The closing composition of the capacity tiers:
    sweep -> retries -> Little's law all price the same fetch log."""
    e = _t(spark, sf, "events")
    lat = (
        F.lit(1)
        + F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("tmo:"), F.col("event_id").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(TMO_VALUE_MOD),
        )
    ).alias("lat")
    # deterministic 1-in-10 log sample: keeps the exact-integer
    # series x spent product under 2^59 at every SF (policy
    # estimation on a sample is the calibration discipline — the
    # estimate's variance, not the arithmetic, is the limiter)
    base = e.where(F.col("event_id") % 10 == 0).select(
        F.pmod(F.col("user_id"), F.lit(TMO_HOSTS)).alias("host"), lat
    )
    grid = spark.createDataFrame([(t,) for t in TMO_GRID], "timeout_us long")
    j = base.crossJoin(F.broadcast(grid))
    agg = j.groupBy("host", "timeout_us").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("lat") > F.col("timeout_us"), 1).otherwise(0))
        .cast("long")
        .alias("lost"),
        F.sum(F.least(F.col("lat"), F.col("timeout_us"))).alias("spent_us"),
    )
    r = TRC_RETRIES
    terms = []
    for k in range(r + 1):
        e_part = "*".join(["lost"] * k) if k else "1"
        t_part = "*".join(["n"] * (r - k)) if r - k else "1"
        terms.append(f"({e_part}) * ({t_part})")
    series = " + ".join(terms)
    den = "*".join(["n"] * r)
    return agg.select(
        "host",
        "timeout_us",
        "n",
        "lost",
        F.expr(f"(lost * {TRC_PPM}) DIV n").alias("p_lost_ppm"),
        F.expr(f"(({series}) * {TRC_PPM}) DIV ({den})").alias("attempts_ppm"),
        F.expr(f"(({series}) * spent_us) DIV (({den}) * n)").alias(
            "expected_us"
        ),
    )


def _o_timeout_retry() -> str:
    r = TRC_RETRIES
    terms = []
    for k in range(r + 1):
        e_part = "*".join(["lost"] * k) if k else "1"
        t_part = "*".join(["n"] * (r - k)) if r - k else "1"
        terms.append(f"({e_part}) * ({t_part})")
    series = " + ".join(terms)
    den = "*".join(["n"] * r)
    return f"""
WITH base AS (
  SELECT user_id % {TMO_HOSTS} AS host,
         1 + ('0x' || substring(md5('tmo:' || cast(event_id as varchar)), 1, 15))
               ::BIGINT % {TMO_VALUE_MOD} AS lat
  FROM events WHERE event_id % 10 = 0),
grid AS (SELECT unnest([{", ".join(str(t) for t in TMO_GRID)}]) AS timeout_us),
agg AS (
  SELECT host, cast(timeout_us as bigint) AS timeout_us,
         cast(count(*) as bigint) AS n,
         cast(sum(CASE WHEN lat > timeout_us THEN 1 ELSE 0 END) as bigint)
           AS lost,
         cast(sum(least(lat, timeout_us)) as bigint) AS spent_us
  FROM base, grid GROUP BY host, timeout_us)
SELECT host, timeout_us, n, lost,
       (lost * {TRC_PPM}) // n AS p_lost_ppm,
       (({series}) * {TRC_PPM}) // ({den}) AS attempts_ppm,
       (({series}) * spent_us) // (({den}) * n) AS expected_us
FROM agg
"""


O_TIMEOUT_RETRY_COST = _o_timeout_retry()


# ------------------- Wald-Wolfowitz media runs test (6n)


def q_media_runs_test(spark: SparkSession, sf: str) -> DataFrame:
    """Do media spans CLUSTER beyond chance? The Wald-Wolfowitz runs
    test applied to the interleaved payload: group fetched docs by
    their (n_text, n_media) composition class; within a class every
    doc has the same expected run count under random interleaving —
    E[runs] = 1 + 2*n1*n2/(n1+n2), an exact rational — so the class
    comparison 'observed total runs vs n_docs * E[runs]' is one
    integer cross-multiplication: obs * (n1+n2) vs n_docs * ((n1+n2)
    + 2*n1*n2). Fewer runs than expected = media clusters into
    blocks (gallery-style pages — cheap to pack); more runs =
    alternation beyond chance (caption-style). Emitted per class:
    doc count, observed runs, the exact expectation numerator and
    denominator, and the verdict. span_patterns counted switches
    descriptively; THIS says whether the interleaving is
    statistically structured, with zero distributional machinery
    beyond counting.

    100 TB shape: per-doc run counts are one array HOF inside the
    fetch projection; the class rollup partial-aggregates on a
    bounded (n1, n2) key (both <= MAX_SPANS)."""
    _, plan = _plan(spark, sf)
    docs = fetch_documents(plan, ROUND_NO).dropDuplicates(["doc_id"])
    kinds = F.transform(F.col("spans"), lambda s: F.substring(s["kind"], 1, 1))
    n = F.size(kinds)
    n_media = F.size(F.filter(kinds, lambda k: k == F.lit("m"))).cast("long")
    runs = (
        F.lit(1).cast("long")
        + F.size(
            F.filter(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.element_at(F.col("kk"), i)
                != F.element_at(F.col("kk"), i + 1),
            )
        ).cast("long")
    )
    per = (
        docs.withColumn("kk", kinds)
        .where(F.size("kk") >= 2)
        .select(
            (F.size("kk").cast("long") - n_media).alias("n_text"),
            n_media.alias("n_media"),
            runs.alias("runs"),
        )
        .where((F.col("n_text") > 0) & (F.col("n_media") > 0))
    )
    agg = per.groupBy("n_text", "n_media").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("runs").alias("obs_runs"),
    )
    t = F.col("n_text") + F.col("n_media")
    exp_num = F.col("n_docs") * (t + 2 * F.col("n_text") * F.col("n_media"))
    return agg.select(
        "n_text",
        "n_media",
        "n_docs",
        "obs_runs",
        exp_num.alias("exp_num"),
        t.alias("exp_den"),
        F.when(F.col("obs_runs") * t < exp_num, F.lit("clustered"))
        .when(F.col("obs_runs") * t > exp_num, F.lit("alternating"))
        .otherwise(F.lit("random"))
        .alias("verdict"),
    )


def _build_o_media_runs() -> str:
    kind = lambda v: f"(CASE WHEN ({_stream('d', docspec._S_KIND, v)}) % 3 < 2 THEN 't' ELSE 'm' END)"  # noqa: E731
    return f"""
WITH {_SQL_PLAN_BASE},
st AS (SELECT (url_hash)::HUGEINT AS u FROM plan),
st2 AS (SELECT *, ({_stream('u', docspec._S_STATUS)}) % 100 AS r100 FROM st),
ok AS (SELECT u, (1 + ({_stream('u', docspec._S_NDOCS)}) % 4)::BIGINT AS nd
       FROM st2 WHERE r100 < 88),
dk AS (SELECT ({_stream('u', docspec._S_DOCKEY, '256 + j')}) AS d
       FROM (SELECT u, unnest(range(0, nd)) AS j FROM ok)),
dd AS (SELECT d, (1 + ({_stream('d', docspec._S_NSPANS)}) % 8)::BIGINT AS nsp FROM dk),
per AS (
  SELECT
    cast(len(list_filter(range(0, nsp), k -> {kind('k')} = 't')) as bigint)
      AS n_text,
    cast(len(list_filter(range(0, nsp), k -> {kind('k')} = 'm')) as bigint)
      AS n_media,
    cast(1 + len(list_filter(range(1, nsp),
                             k -> {kind('k')} <> {kind('(k - 1)')})) as bigint)
      AS runs
  FROM dd WHERE nsp >= 2),
flt AS (SELECT * FROM per WHERE n_text > 0 AND n_media > 0),
mragg AS (
  SELECT n_text, n_media,
         cast(count(*) as bigint) AS n_docs,
         cast(sum(runs) as bigint) AS obs_runs
  FROM flt GROUP BY n_text, n_media)
SELECT n_text, n_media, n_docs, obs_runs,
       n_docs * ((n_text + n_media) + 2 * n_text * n_media) AS exp_num,
       n_text + n_media AS exp_den,
       CASE WHEN obs_runs * (n_text + n_media)
                 < n_docs * ((n_text + n_media) + 2 * n_text * n_media)
            THEN 'clustered'
            WHEN obs_runs * (n_text + n_media)
                 > n_docs * ((n_text + n_media) + 2 * n_text * n_media)
            THEN 'alternating'
            ELSE 'random' END AS verdict
FROM mragg
"""


O_MEDIA_RUNS_TEST = _build_o_media_runs()


# -------------------------- fetch cost per document (6n)

CPD_PPM = 1_000_000


def q_cost_per_doc(spark: SparkSession, sf: str) -> DataFrame:
    """The marginal-document price: join the round's rank-decile
    yield (crawl_yield_curve's surface) with the per-URL synthetic
    fetch latency and report microseconds of fetch time PER DOCUMENT
    by decile — the economics quotient the per-host budget really
    optimizes (a decile can have decent yield but terrible time-per-
    doc if its fetches run slow). Emitted per decile: scheduled
    URLs, docs, total fetch time, us/doc (exact floor division; the
    degenerate docs=0 case reports -1), and the cost ratio vs the
    head decile in ppm.

    100 TB shape: the yield exchange plus a map-side latency column;
    the head-decile broadcast is one row. Reference analog: per-page
    crawl cost of the reference's timeline paging, priced per tweet
    (SURVEY §2 S1/S2), lifted to deciles."""
    _, plan = _plan(spark, sf)
    docs = fetch_documents(plan, ROUND_NO).dropDuplicates(["doc_id"])
    per_url = docs.groupBy("url_hash").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    lat = (
        F.lit(1)
        + F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("cpd:"), F.col("url_hash").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(TMO_VALUE_MOD),
        )
    )
    ranked = plan.select(
        "url_hash",
        F.least(
            F.lit(YIELD_BUCKETS - 1).cast("long"),
            (F.col("fetch_rank") - 1).cast("long"),
        ).alias("decile"),
        lat.alias("lat_us"),
    )
    j = ranked.join(per_url, "url_hash", "left").fillna({"n_docs": 0})
    agg = j.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_scheduled"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("lat_us").alias("fetch_us"),
    )
    cpd = F.expr("CASE WHEN n_docs > 0 THEN fetch_us DIV n_docs ELSE -1 END")
    with_cpd = agg.withColumn("us_per_doc", cpd)
    head = (
        with_cpd.where(F.col("decile") == 0)
        .select(F.col("us_per_doc").alias("head_cpd"))
    )
    return with_cpd.crossJoin(F.broadcast(head)).select(
        "decile",
        "n_scheduled",
        "n_docs",
        "fetch_us",
        "us_per_doc",
        F.expr(
            f"CASE WHEN us_per_doc >= 0 AND head_cpd > 0"
            f" THEN (us_per_doc * {CPD_PPM}) DIV head_cpd ELSE -1 END"
        ).alias("vs_head_ppm"),
    )


def _build_o_cost_per_doc() -> str:
    return f"""
WITH {_SQL_PLAN_BASE},
st AS (SELECT url_hash, fetch_rank, (url_hash)::HUGEINT AS u FROM plan),
st2 AS (SELECT *, ({_stream('u', docspec._S_STATUS)}) % 100 AS r100 FROM st),
nd AS (
  SELECT url_hash, fetch_rank,
         CASE WHEN r100 < 88
              THEN (1 + ({_stream('u', docspec._S_NDOCS)}) % 4)::BIGINT
              ELSE 0 END AS n_docs
  FROM st2),
yrank AS (
  SELECT least({YIELD_BUCKETS - 1}, fetch_rank - 1)::BIGINT AS decile,
         n_docs,
         1 + ('0x' || substring(md5('cpd:' || cast(url_hash as varchar)), 1, 15))
               ::BIGINT % {TMO_VALUE_MOD} AS lat_us
  FROM nd),
cpagg AS (
  SELECT decile,
         cast(count(*) as bigint) AS n_scheduled,
         cast(sum(n_docs) as bigint) AS n_docs,
         cast(sum(lat_us) as bigint) AS fetch_us
  FROM yrank GROUP BY decile),
cpd AS (
  SELECT *,
         CASE WHEN n_docs > 0 THEN fetch_us // n_docs ELSE -1 END AS us_per_doc
  FROM cpagg),
head AS (SELECT us_per_doc AS head_cpd FROM cpd WHERE decile = 0)
SELECT c.decile, c.n_scheduled, c.n_docs, c.fetch_us, c.us_per_doc,
       CASE WHEN c.us_per_doc >= 0 AND head.head_cpd > 0
            THEN (c.us_per_doc * {CPD_PPM}) // head.head_cpd ELSE -1 END
         AS vs_head_ppm
FROM cpd c, head
"""


O_COST_PER_DOC = _build_o_cost_per_doc()
