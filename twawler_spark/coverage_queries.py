"""Coverage wave 4 — the operators VERDICT r1 flagged missing/partial.

S7 list scans (twkit/crawler/addlists.py:25-200), S8 favorites scan
with overlap-stop (twkit/crawler/dumpfavs.py:20-52), S4 search source
(twkit/crawler/search.py:20-92), F13 gender classifier
(twkit/analytics/gender.py:24-55), F12 lexicon-scale sentiment cascade
(twkit/analytics/senti.py:176-223), J8 true synchrotrap
(twkit/analytics/findcommontweets.py:22-59), J7 unknown edge endpoints,
F16 nested-struct flatten, F2/F3 normalize+deaccent.

All inputs are synthesized deterministically from the driver tables
(identically in Spark and DuckDB) — lists, favorites and follow edges
don't exist as physical tables at the driver's sf dirs, so membership /
edge structures derive from lineitem/orders/documents keys, exactly as
the crawl queries derive a frontier from events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# =====================================================================
# S7 — list scans: lists + listmembers ingestion feeding the frontier
# =====================================================================

def _listmembers(spark, sf):
    """listmembers edges (addlistmembers bulk insert shape,
    addlists.py:49-57): (list_id, user_id), deduped like the unique
    index on the reference collection."""
    li = _t(spark, sf, "lineitem")
    return li.select(
        F.pmod(F.col("l_partkey"), F.lit(120)).alias("list_id"),
        F.col("l_suppkey").alias("user_id"),
    ).dropDuplicates(["list_id", "user_id"])


_SQL_LISTMEMBERS = """
  SELECT DISTINCT l_partkey % 120 AS list_id, l_suppkey AS user_id
  FROM lineitem
"""


def q_s7_list_scan(spark, sf):
    """S7: scan members of subscribed lists, admit unknown users to the
    frontier (addlists.py:25-57: GetListMembers -> lookup_user unknown
    check -> bulk insert). Subscribed lists = list_id < 40; tracked
    users = user_id % 7 == 0 (the lookup_user set stand-in)."""
    m = _listmembers(spark, sf).where(F.col("list_id") < 40)
    cand = m.where(F.pmod(F.col("user_id"), F.lit(7)) != 0)
    return cand.groupBy(F.pmod(F.col("list_id"), F.lit(10)).alias("bucket")).agg(
        F.countDistinct("list_id").alias("n_lists"),
        F.count("*").alias("n_candidates"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("user_id").alias("min_user"),
    )


O_S7_LIST_SCAN = f"""
WITH m AS ({_SQL_LISTMEMBERS}),
cand AS (SELECT * FROM m WHERE list_id < 40 AND user_id % 7 != 0)
SELECT list_id % 10 AS bucket, count(DISTINCT list_id) AS n_lists,
       count(*) AS n_candidates, count(DISTINCT user_id) AS n_users,
       min(user_id) AS min_user
FROM cand GROUP BY 1
"""


def q_s7_list_similarity(spark, sf):
    """S7 analytics: list pairs ranked by shared members (the
    listfollowers.py:89-96 / botnetgraph membership-overlap shape) —
    one self-join on user_id, never an all-pairs list cross join."""
    m = _listmembers(spark, sf)
    a, b = m.alias("a"), m.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.list_id") < F.col("b.list_id")),
    )
    return (
        pairs.groupBy(
            F.col("a.list_id").alias("list_a"), F.col("b.list_id").alias("list_b")
        )
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= 12)
    )


O_S7_LIST_SIM = f"""
WITH m AS ({_SQL_LISTMEMBERS})
SELECT a.list_id AS list_a, b.list_id AS list_b, count(*) AS n_shared
FROM m a JOIN m b ON a.user_id = b.user_id AND a.list_id < b.list_id
GROUP BY 1, 2 HAVING count(*) >= 12
"""


# =====================================================================
# S8 — favorites scan with overlap-stop paging
# =====================================================================

PAGE_SIZE = 200
KNOWN_STOP = 190


def overlap_stop_scan(
    favs: DataFrame, page_size: int = PAGE_SIZE, stop: int = KNOWN_STOP
) -> DataFrame:
    """Overlap-stop paging over a (user_id, tweet_id, known) edge frame:
    rank per user by tweet_id DESC -> page index; a page is fetched only
    while the cumulative known count over STRICTLY EARLIER pages <= stop
    (monotone, so the filter is exactly dumpfavs.py:30's stop point).
    Returns per-user (n_pages_scanned, n_new, n_known_seen)."""
    w_rank = W.partitionBy("user_id").orderBy(F.col("tweet_id").desc())
    ranked = favs.withColumn(
        "page", F.floor((F.row_number().over(w_rank) - 1) / page_size)
    )
    pages = ranked.groupBy("user_id", "page").agg(
        F.sum("known").alias("page_known"),
        (F.count("*") - F.sum("known")).alias("page_new"),
    )
    w_cum = (
        W.partitionBy("user_id")
        .orderBy("page")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    scanned = pages.withColumn(
        "known_before", F.coalesce(F.sum("page_known").over(w_cum), F.lit(0))
    ).where(F.col("known_before") <= stop)
    return scanned.groupBy("user_id").agg(
        F.count("*").alias("n_pages_scanned"),
        F.sum("page_new").alias("n_new"),
        F.sum("page_known").alias("n_known_seen"),
    )


def q_s8_favorites_stop(spark, sf):
    """S8: page favorites newest-first, 200/page; a page is fetched only
    while the cumulative count of already-known edges is <= 190
    (dumpfavs.py:30 ``while retry and known <= 190``: matched_count
    accumulates across pages). Emits per-user scan totals."""
    li = _t(spark, sf, "lineitem")
    favs = li.select(
        F.pmod(F.col("l_orderkey"), F.lit(200)).alias("user_id"),
        (F.col("l_partkey") * 100000 + F.col("l_suppkey")).alias("tweet_id"),
    ).dropDuplicates(["user_id", "tweet_id"]).withColumn(
        "known", (F.pmod(F.col("tweet_id"), F.lit(3)) == 0).cast("int")
    )
    return overlap_stop_scan(favs)


O_S8_FAVORITES = f"""
WITH favs AS (
  SELECT DISTINCT l_orderkey % 200 AS user_id,
         l_partkey * 100000 + l_suppkey AS tweet_id
  FROM lineitem),
ranked AS (
  SELECT user_id, tweet_id,
         CASE WHEN tweet_id % 3 = 0 THEN 1 ELSE 0 END AS known,
         cast(floor((row_number() OVER (PARTITION BY user_id ORDER BY tweet_id DESC)
                     - 1) / {PAGE_SIZE}) as bigint) AS page
  FROM favs),
pages AS (
  SELECT user_id, page, cast(sum(known) as bigint) AS page_known,
         cast(count(*) - sum(known) as bigint) AS page_new
  FROM ranked GROUP BY 1, 2),
scanned AS (
  SELECT *, coalesce(sum(page_known) OVER (PARTITION BY user_id ORDER BY page
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS known_before
  FROM pages)
SELECT user_id, count(*) AS n_pages_scanned,
       cast(sum(page_new) as bigint) AS n_new,
       cast(sum(page_known) as bigint) AS n_known_seen
FROM scanned WHERE known_before <= {KNOWN_STOP} GROUP BY user_id
"""


# =====================================================================
# S4 — search source: term scan that CREATES frontier candidates
# =====================================================================

SEARCH_TERM = "vector"


def q_s4_search_scan(spark, sf):
    """S4: parameterized term search feeding the frontier-insert path
    (search.py:20-92: GetSearch -> pack_tweet insert; --add follows the
    author AND the retweeted author). Matched docs yield author uids
    (doc_id % 500) plus retweet-origin uids ((doc_id*7+3) % 500 for docs
    that carry the 'stream' marker); candidates not already tracked
    (uid % 3 == 0) are admitted, counted per source."""
    d = _t(spark, sf, "documents")
    hits = d.where(
        F.array_contains(F.split(F.col("text"), " "), SEARCH_TERM)
        & (F.col("lang") == "en")
    )
    authors = hits.select(
        "source", F.pmod(F.col("doc_id"), F.lit(500)).alias("uid")
    )
    origins = hits.where(
        F.array_contains(F.split(F.col("text"), " "), "stream")
    ).select(
        "source", F.pmod(F.col("doc_id") * 7 + 3, F.lit(500)).alias("uid")
    )
    cands = authors.unionByName(origins).dropDuplicates(["source", "uid"])
    admitted = cands.where(F.pmod(F.col("uid"), F.lit(3)) != 0)
    n_hits = hits.groupBy("source").agg(F.count("*").alias("n_matched"))
    adm = admitted.groupBy("source").agg(
        F.count("*").alias("n_new_tracked"), F.min("uid").alias("min_uid")
    )
    return n_hits.join(adm, "source", "left").select(
        "source",
        "n_matched",
        F.coalesce("n_new_tracked", F.lit(0)).alias("n_new_tracked"),
        F.coalesce("min_uid", F.lit(-1)).alias("min_uid"),
    )


O_S4_SEARCH = f"""
WITH hits AS (
  SELECT * FROM documents
  WHERE list_contains(string_split(text, ' '), '{SEARCH_TERM}') AND lang = 'en'),
cands AS (
  SELECT DISTINCT source, uid FROM (
    SELECT source, doc_id % 500 AS uid FROM hits
    UNION ALL
    SELECT source, (doc_id * 7 + 3) % 500 AS uid FROM hits
    WHERE list_contains(string_split(text, ' '), 'stream'))),
adm AS (
  SELECT source, count(*) AS n_new_tracked, min(uid) AS min_uid
  FROM cands WHERE uid % 3 != 0 GROUP BY source),
n AS (SELECT source, count(*) AS n_matched FROM hits GROUP BY source)
SELECT n.source, n.n_matched,
       coalesce(adm.n_new_tracked, 0) AS n_new_tracked,
       coalesce(adm.min_uid, -1) AS min_uid
FROM n LEFT JOIN adm ON n.source = adm.source
"""


# =====================================================================
# F13 — gender classifier: regex trigger + POS-lexicon cascade
# =====================================================================

# the reference's trigger is the Greek copula (gender.py:27); the
# synthetic corpus is English-ish, so articles stand in as the trigger
_GENDER_PATTERN = r"(?:^| )(?:the|a) ([a-z]+)"
_POS_MASC = ("spark", "hash", "join", "sort")       # 'αρσ' analog
_POS_FEM = ("table", "row", "query", "line")        # 'θηλ' analog
_NEGATION = "slow"                                   # negationwords analog
_LOCATIONS = ("data", "value")                       # locations skip-list


def q_f13_gender(spark, sf):
    """F13 (gender.py:24-55): first regex-trigger match per doc; skip
    docs with a negation word; skip location words; classify the
    captured word via the POS lexicon; roll up male/female percentages
    per source (the per-user rollup analog)."""
    d = _t(spark, sf, "documents")
    no_neg = d.where(~F.array_contains(F.split(F.col("text"), " "), _NEGATION))
    nextword = F.regexp_extract(F.col("text"), _GENDER_PATTERN, 1)
    hits = (
        no_neg.select("source", nextword.alias("w"))
        .where((F.col("w") != "") & ~F.col("w").isin(*_LOCATIONS))
    )
    male = F.sum(F.when(F.col("w").isin(*_POS_MASC), 1).otherwise(0))
    female = F.sum(F.when(F.col("w").isin(*_POS_FEM), 1).otherwise(0))
    return hits.groupBy("source").agg(
        male.alias("n_male"), female.alias("n_female")
    ).select(
        "source",
        "n_male",
        "n_female",
        F.when(
            F.col("n_male") + F.col("n_female") > 0,
            F.round(100.0 * F.col("n_male") / (F.col("n_male") + F.col("n_female")), 4),
        ).otherwise(F.lit(0.0)).alias("pct_male"),
    )


O_F13_GENDER = f"""
WITH hits AS (
  SELECT source, regexp_extract(text, '{_GENDER_PATTERN}', 1) AS w
  FROM documents
  WHERE NOT list_contains(string_split(text, ' '), '{_NEGATION}')),
cl AS (
  SELECT source,
         CASE WHEN w IN {repr(_POS_MASC)} THEN 1 ELSE 0 END AS m,
         CASE WHEN w IN {repr(_POS_FEM)} THEN 1 ELSE 0 END AS f
  FROM hits WHERE w != '' AND w NOT IN {repr(_LOCATIONS)}),
agg AS (
  SELECT source, cast(sum(m) as bigint) AS n_male,
         cast(sum(f) as bigint) AS n_female
  FROM cl GROUP BY source)
SELECT source, n_male, n_female,
       CASE WHEN n_male + n_female > 0
            THEN round(100.0 * n_male / (n_male + n_female), 4)
            ELSE 0.0 END AS pct_male
FROM agg
"""


# =====================================================================
# F12 — lexicon-scale sentiment cascade (exact -> lower -> deaccent)
# =====================================================================

_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
N_FILLER_LEX = 5000


def _lexicon_spark(spark):
    """5k+ entry scored lexicon (the greekdata/lexicon.csv scale):
    vocab words scored by length parity, plus N_FILLER_LEX filler
    entries so the broadcast-dictionary join runs at realistic size."""
    vocab = spark.createDataFrame(
        [(w, (len(w) % 5) - 2) for w in _VOCAB], "word string, score int"
    )
    filler = spark.range(N_FILLER_LEX).select(
        F.concat(F.lit("lex"), F.col("id").cast("string")).alias("word"),
        (F.pmod(F.col("id"), F.lit(5)) - 2).cast("int").alias("score"),
    )
    return vocab.unionByName(filler)


# wiki-graph tier (senti.py:189-196): a word -> related-words graph; a
# word found in the graph scores the MEAN of its neighbors' exact
# scores, and if that mean is zero the word is DROPPED (it does not
# cascade on to the lower/deaccent tiers). The reference loads the
# graph from greekdict; here a deterministic synonym graph keys the
# UPPERCASE form of every second vocab word to exactly two vocab
# neighbors (two neighbors -> the mean is exact in half-point units).
_WIKI_EDGES: list[tuple[str, str]] = []
for _i, _w in enumerate(_VOCAB):
    if _i % 2 == 0:
        _WIKI_EDGES.append((_w.upper(), _VOCAB[(_i + 1) % len(_VOCAB)]))
        _WIKI_EDGES.append((_w.upper(), _VOCAB[(_i + 3) % len(_VOCAB)]))

_SQL_WIKI_EDGES = "SELECT * FROM (VALUES " + ", ".join(
    f"('{g}', '{n}')" for g, n in _WIKI_EDGES
) + ") AS g(gw, nb)"


_SQL_LEXICON = f"""
  SELECT word, cast(length(word) % 5 - 2 as int) AS score
  FROM (SELECT unnest({_VOCAB!r}) AS word)
  UNION ALL
  SELECT 'lex' || cast(x as varchar), cast(x % 5 - 2 as int)
  FROM range({N_FILLER_LEX}) t(x)
"""


def q_f12_sentiment_cascade(spark, sf):
    """F12 at lexicon scale, full 4-tier cascade (senti.py:176-223):
    each token resolves through exact -> wiki-graph -> lowercase ->
    deaccent against a broadcast 5k-entry dictionary plus a broadcast
    synonym-edge graph; per-lang rollup of mean positive / negative
    scores (senti.py:322-392). Like the reference's `if s:` falsy
    check, an exact-tier score of 0 is a MISS and cascades onward. The wiki tier scores a token as the mean
    of its graph neighbors' exact scores, and a token IN the graph
    whose mean is zero is dropped, not cascaded (senti.py:189-196).
    Tokens are mutated per doc (upper / accented) so every tier does
    real work; scores ride in exact half-point integer units (each
    graph word has exactly 2 neighbors) so no floating-point sum ever
    crosses an exchange — one double division at the end."""
    d = _t(spark, sf, "documents")
    lex = _lexicon_spark(spark)
    edges = spark.createDataFrame(_WIKI_EDGES, "gw string, nb string")
    # wiki tier pre-aggregation: graph word -> sum of neighbor exact
    # scores (== 2 * mean, exact in ints). Tiny: |graph| rows.
    wiki = (
        edges.join(
            lex.select(F.col("word").alias("nb_w"), F.col("score").alias("nb_s")),
            edges.nb == F.col("nb_w"),
            "left",
        )
        .groupBy("gw")
        .agg(F.sum(F.coalesce("nb_s", F.lit(0))).alias("s2_w"))
    )
    tok = F.explode(F.split(F.col("text"), " ")).alias("tok0")
    toks = d.select("lang", "doc_id", tok).select(
        "lang",
        F.when(F.pmod(F.col("doc_id"), F.lit(3)) == 0, F.upper(F.col("tok0")))
        .when(
            F.pmod(F.col("doc_id"), F.lit(3)) == 1,
            F.translate(F.col("tok0"), "a", "á"),
        )
        .otherwise(F.col("tok0"))
        .alias("tok"),
    )
    e = lex.select(F.col("word").alias("w_e"), F.col("score").alias("s_e"))
    l = lex.select(F.col("word").alias("w_l"), F.col("score").alias("s_l"))
    x = lex.select(F.col("word").alias("w_d"), F.col("score").alias("s_d"))
    in_wiki = F.col("gw").isNotNull()
    # reference fidelity (senti.py `if s:`): an exact-tier score of 0 is
    # falsy there, so it MISSES and cascades to the wiki tier — NULL and
    # 0 are both misses here
    miss_e = F.col("s_e").isNull() | (F.col("s_e") == 0)
    # score in half-point units; NULL = no tier resolved it (or the
    # wiki tier swallowed it with a zero mean)
    s2 = (
        F.when(~miss_e, 2 * F.col("s_e"))
        .when(in_wiki & (F.col("s2_w") != 0), F.col("s2_w"))
        .when(in_wiki, F.lit(None).cast("long"))
        .otherwise(2 * F.coalesce("s_l", "s_d"))
    )
    cascade = (
        toks.join(F.broadcast(e), toks.tok == e.w_e, "left")
        .join(F.broadcast(wiki), toks.tok == wiki.gw, "left")
        .join(F.broadcast(l), F.lower(toks.tok) == l.w_l, "left")
        .join(
            F.broadcast(x),
            F.translate(F.lower(toks.tok), "á", "a") == x.w_d,
            "left",
        )
        .select(
            "lang",
            s2.alias("s2"),
            F.when(~miss_e, 1).otherwise(0).alias("hit_e"),
            F.when(miss_e & in_wiki & (F.col("s2_w") != 0), 1)
            .otherwise(0)
            .alias("hit_w"),
            F.when(miss_e & ~in_wiki & F.col("s_l").isNotNull(), 1)
            .otherwise(0)
            .alias("hit_l"),
            F.when(
                miss_e & ~in_wiki & F.col("s_l").isNull() & F.col("s_d").isNotNull(),
                1,
            )
            .otherwise(0)
            .alias("hit_d"),
        )
    )
    n_pos = F.sum(F.when(F.col("s2") > 0, 1).otherwise(0))
    n_neg = F.sum(F.when(F.col("s2") < 0, 1).otherwise(0))
    sum_pos2 = F.sum(F.when(F.col("s2") > 0, F.col("s2")).otherwise(0))
    sum_neg2 = F.sum(F.when(F.col("s2") < 0, F.col("s2")).otherwise(0))
    return cascade.groupBy("lang").agg(
        F.sum("hit_e").alias("n_exact"),
        F.sum("hit_w").alias("n_wiki"),
        F.sum("hit_l").alias("n_lower"),
        F.sum("hit_d").alias("n_deaccent"),
        n_pos.alias("n_pos"),
        n_neg.alias("n_neg"),
        F.round(sum_pos2 / (2 * F.greatest(n_pos, F.lit(1))), 4).alias("senti_pos"),
        F.round(sum_neg2 / (2 * F.greatest(n_neg, F.lit(1))), 4).alias("senti_neg"),
    )


O_F12_CASCADE = f"""
WITH lex AS ({_SQL_LEXICON}),
graph AS ({_SQL_WIKI_EDGES}),
wiki AS (
  SELECT gw, cast(sum(coalesce(lex.score, 0)) as bigint) AS s2_w
  FROM graph LEFT JOIN lex ON graph.nb = lex.word
  GROUP BY gw),
toks AS (
  SELECT lang,
         CASE WHEN doc_id % 3 = 0 THEN upper(tok0)
              WHEN doc_id % 3 = 1 THEN translate(tok0, 'a', 'á')
              ELSE tok0 END AS tok
  FROM (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok0
        FROM documents)),
cascade AS (
  SELECT t.lang,
         CASE WHEN e.score IS NOT NULL AND e.score <> 0 THEN 2 * e.score
              WHEN w.gw IS NOT NULL AND w.s2_w != 0 THEN w.s2_w
              WHEN w.gw IS NOT NULL THEN NULL
              ELSE 2 * coalesce(l.score, d.score) END AS s2,
         CASE WHEN e.score IS NOT NULL AND e.score <> 0 THEN 1 ELSE 0 END AS hit_e,
         CASE WHEN (e.score IS NULL OR e.score = 0)
                   AND w.gw IS NOT NULL AND w.s2_w != 0
              THEN 1 ELSE 0 END AS hit_w,
         CASE WHEN (e.score IS NULL OR e.score = 0)
                   AND w.gw IS NULL AND l.score IS NOT NULL
              THEN 1 ELSE 0 END AS hit_l,
         CASE WHEN (e.score IS NULL OR e.score = 0)
                   AND w.gw IS NULL AND l.score IS NULL
                   AND d.score IS NOT NULL
              THEN 1 ELSE 0 END AS hit_d
  FROM toks t
  LEFT JOIN lex e ON t.tok = e.word
  LEFT JOIN wiki w ON t.tok = w.gw
  LEFT JOIN lex l ON lower(t.tok) = l.word
  LEFT JOIN lex d ON translate(lower(t.tok), 'á', 'a') = d.word)
SELECT lang,
       cast(sum(hit_e) as bigint) AS n_exact,
       cast(sum(hit_w) as bigint) AS n_wiki,
       cast(sum(hit_l) as bigint) AS n_lower,
       cast(sum(hit_d) as bigint) AS n_deaccent,
       cast(sum(CASE WHEN s2 > 0 THEN 1 ELSE 0 END) as bigint) AS n_pos,
       cast(sum(CASE WHEN s2 < 0 THEN 1 ELSE 0 END) as bigint) AS n_neg,
       round(sum(CASE WHEN s2 > 0 THEN s2 ELSE 0 END) * 1.0
             / (2 * greatest(sum(CASE WHEN s2 > 0 THEN 1 ELSE 0 END), 1)), 4) AS senti_pos,
       round(sum(CASE WHEN s2 < 0 THEN s2 ELSE 0 END) * 1.0
             / (2 * greatest(sum(CASE WHEN s2 < 0 THEN 1 ELSE 0 END), 1)), 4) AS senti_neg
FROM cascade GROUP BY lang
"""


# =====================================================================
# J8 — true synchrotrap: sliding 600s/300s windows + BoW Jaccard >= 0.8
# =====================================================================

J8_WINDOW = 600
J8_SLIDE = 300
J8_THRESHOLD = 0.8
# event_id is time-ordered in the driver data, so attaching text by
# floor(event_id/4) % 250 plants runs of 4 consecutive (= co-windowed)
# events sharing a text — the lockstep bots the detector must find
J8_DOC_MOD = 250


def _j8_lockstep_event_pairs(spark, sf):
    """Distinct lockstep event pairs (user_a, user_b, event_a, event_b)
    — the synchrotrap core shared by q_j8_synchrotrap_full (pair-count
    rollup) and q_bot_tweets_per_user (per-user copied-tweet rollup)."""
    e = _t(spark, sf, "events").select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("te"),
        F.pmod(F.floor(F.col("event_id") / 4), F.lit(J8_DOC_MOD)).alias("doc_id"),
    )
    d = _t(spark, sf, "documents").select("doc_id", "text")

    def bigram_arr(toks):
        # let-bound tokens: element_at on the raw split() expression
        # would re-evaluate it per element (O(len^2) per doc)
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(toks) - 1, F.lit(1))),
                lambda i: F.concat_ws(
                    " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                ),
            )
        )

    bigrams = F.transform(F.array(F.split(F.col("text"), " ")), bigram_arr)[0]
    ev = e.join(F.broadcast(d.select("doc_id", bigrams.alias("bow"))), "doc_id")
    win = F.floor(F.col("te") / J8_SLIDE)
    ev = ev.withColumn("w", F.explode(F.array(win - 1, win)))
    a, b = ev.alias("a"), ev.alias("b")
    inter = F.size(F.array_intersect(F.col("a.bow"), F.col("b.bow")))
    union = F.size(F.array_union(F.col("a.bow"), F.col("b.bow")))
    pairs = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (
                (F.col("a.te") < F.col("b.te"))
                | ((F.col("a.te") == F.col("b.te")) & (F.col("a.event_id") < F.col("b.event_id")))
            )
            & (F.col("a.user_id") != F.col("b.user_id")),
        )
        # count once: earlier event in the window's first half
        .where(F.col("a.te") < (F.col("a.w") * J8_SLIDE + J8_SLIDE))
        .where((inter / union) >= J8_THRESHOLD)
        .select(
            F.col("a.user_id").alias("user_a"),
            F.col("b.user_id").alias("user_b"),
            F.col("a.event_id").alias("event_a"),
            F.col("b.event_id").alias("event_b"),
        )
        .distinct()
    )
    return pairs


def q_j8_synchrotrap_full(spark, sf):
    """J8 full semantics (findcommontweets.py:22-59): 600s windows
    sliding by 300s; within a window, pairs of events from DIFFERENT
    users whose bag-of-words Jaccard >= 0.8 are lockstep edges; a pair
    is counted once — at the window where the earlier event falls in
    the first half (created_at < mid_date). Texts attach to events via
    doc_id = floor(event_id/4) % J8_DOC_MOD; BoW uses distinct word BIGRAMS
    (the 31-word vocab makes unigram sets saturate — bigrams keep the
    similarity discriminative, same set-Jaccard semantics)."""
    pairs = _j8_lockstep_event_pairs(spark, sf)
    return pairs.groupBy("user_a", "user_b").agg(F.count("*").alias("n_lockstep"))


_O_J8_CTES = f"""e AS (
  SELECT event_id, user_id, cast(floor(epoch(ts)) as bigint) AS te,
         cast(floor(event_id / 4) as bigint) % {J8_DOC_MOD} AS doc_id
  FROM events),
d AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(string_split(text, ' ')) - 1, 1) + 1),
           i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]
         )) AS bow
  FROM documents),
ev AS (
  SELECT e.*, d.bow, cast(floor(te / {J8_SLIDE}) as bigint) + o.off AS w
  FROM e JOIN d USING (doc_id)
  CROSS JOIN (SELECT unnest([-1, 0]) AS off) o),
pairs AS (
  SELECT DISTINCT a.user_id AS user_a, b.user_id AS user_b,
         a.event_id AS event_a, b.event_id AS event_b
  FROM ev a JOIN ev b
    ON a.w = b.w
   AND (a.te < b.te OR (a.te = b.te AND a.event_id < b.event_id))
   AND a.user_id != b.user_id
  WHERE a.te < a.w * {J8_SLIDE} + {J8_SLIDE}
    AND len(list_intersect(a.bow, b.bow)) * 1.0
        / len(list_distinct(list_concat(a.bow, b.bow))) >= {J8_THRESHOLD})"""


O_J8_FULL = f"""
WITH {_O_J8_CTES}
SELECT user_a, user_b, count(*) AS n_lockstep FROM pairs GROUP BY 1, 2
"""


# =====================================================================
# J7 — edge endpoints minus known users
# =====================================================================

def q_j7_unknown_endpoints(spark, sf):
    """J7: distinct edge DESTINATIONS not in the known-user dimension
    (the pullfollow backlog shape — follower edges pointing at users the
    crawler hasn't resolved yet). Edges = (l_suppkey -> l_partkey);
    known = parts with p_size < 30."""
    li = _t(spark, sf, "lineitem")
    dsts = li.select(F.col("l_partkey").alias("dst")).distinct()
    known = (
        _t(spark, sf, "part").where(F.col("p_size") < 30)
        .select(F.col("p_partkey").alias("dst"))
    )
    unknown = dsts.join(known, "dst", "left_anti")
    return unknown.groupBy(F.pmod(F.col("dst"), F.lit(8)).alias("bucket")).agg(
        F.count("*").alias("n_unknown"), F.min("dst").alias("min_dst"),
        F.max("dst").alias("max_dst"),
    )


O_J7 = """
WITH dsts AS (SELECT DISTINCT l_partkey AS dst FROM lineitem),
known AS (SELECT p_partkey AS dst FROM part WHERE p_size < 30),
unknown AS (SELECT dst FROM dsts WHERE dst NOT IN (SELECT dst FROM known))
SELECT dst % 8 AS bucket, count(*) AS n_unknown,
       min(dst) AS min_dst, max(dst) AS max_dst
FROM unknown GROUP BY 1
"""


# =====================================================================
# F16 — nested struct build + flatten
# =====================================================================

def q_f16_flatten(spark, sf):
    """F16: build nested array<struct> per order, then flatten back
    (the reference's tweet-JSON nested access, vectorize.py:117-120 /
    utils.py:207) — collect_list(struct) -> explode -> field access."""
    li = _t(spark, sf, "lineitem")
    nested = li.groupBy("l_orderkey").agg(
        F.collect_list(
            F.struct(F.col("l_linenumber").alias("ln"), F.col("l_quantity").alias("qty"))
        ).alias("items")
    )
    flat = nested.select(
        "l_orderkey", F.explode("items").alias("item")
    ).select("l_orderkey", F.col("item.ln").alias("ln"), F.col("item.qty").alias("qty"))
    return flat.groupBy(F.pmod(F.col("l_orderkey"), F.lit(10)).alias("bucket")).agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("qty"), 2).alias("sum_qty"),
        F.max("ln").alias("max_ln"),
    )


O_F16 = """
WITH nested AS (
  SELECT l_orderkey,
         list(struct_pack(ln := l_linenumber, qty := l_quantity)) AS items
  FROM lineitem GROUP BY l_orderkey),
flat AS (
  SELECT l_orderkey, unnest(items, recursive := true) FROM nested)
SELECT l_orderkey % 10 AS bucket, count(*) AS n_items,
       round(sum(qty), 2) AS sum_qty, max(ln) AS max_ln
FROM flat GROUP BY 1
"""


# =====================================================================
# F2/F3 — normalize + deaccent
# =====================================================================

def q_f2_f3_normalize(spark, sf):
    """F2 normalize (lowercase, strip urls/mentions/hashtags, collapse
    whitespace — stats.py:628-649 itertext) and F3 deaccent
    (stats.py:639-649), applied to noisy text constructed around each
    doc. Emits the cleaned prefix + token count per doc."""
    from .functions.text import deaccent_gr, normalize

    d = _t(spark, sf, "documents")
    noisy = F.concat(
        F.lit("RT @user"),
        F.col("doc_id").cast("string"),
        F.lit(" άέή see https://ex.com/"),
        F.col("doc_id").cast("string"),
        F.lit("?x=1 #tag  "),
        F.upper(F.substring(F.col("text"), 1, 40)),
    )
    cleaned = normalize(noisy)
    return d.select(
        "doc_id",
        F.substring(cleaned, 1, 60).alias("cleaned_prefix"),
        F.size(F.split(cleaned, " ")).alias("n_tokens"),
        deaccent_gr(F.lit("άέήίόύώ")).alias("deaccented"),
    )


O_F2_F3 = """
SELECT doc_id,
       substring(t, 1, 60) AS cleaned_prefix,
       len(string_split(t, ' ')) AS n_tokens,
       translate('άέήίόύώ',
                 'άέήίόύώ',
                 'αεηιουω') AS deaccented
FROM (
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(
             regexp_replace(
               lower('RT @user' || cast(doc_id as varchar)
                     || ' άέή see https://ex.com/'
                     || cast(doc_id as varchar) || '?x=1 #tag  '
                     || upper(substring(text, 1, 40))),
               'https?://\\S+', ' ', 'g'),
             '[@#]\\w+', ' ', 'g'),
           '\\s+', ' ', 'g')) AS t
  FROM documents)
"""


# =====================================================================
# word-stats family — the vectorize.py per-user word profile
# =====================================================================

def q_user_word_stats(spark, sf):
    """Per-user word-stats profile (stats.py:766-926: per-user token /
    letter-class counts feeding vectorize.py): author = doc_id % 150;
    letter-class ratios, token counts, vocabulary size, and the user's
    modal token (deterministic tie-break: count DESC, token ASC)."""
    d = _t(spark, sf, "documents")
    docs = d.select(
        F.pmod(F.col("doc_id"), F.lit(150)).alias("user_id"), "text"
    )
    alpha = F.length(F.regexp_replace(F.col("text"), r"[^a-z]", ""))
    digit = F.length(F.regexp_replace(F.col("text"), r"[^0-9]", ""))
    base = docs.groupBy("user_id").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens"),
        F.sum(F.length("text")).alias("n_chars"),
        F.sum(alpha).alias("n_alpha"),
        F.sum(digit).alias("n_digit"),
    )
    toks = docs.select(
        "user_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).where(F.col("tok") != "")
    counts = toks.groupBy("user_id", "tok").agg(F.count("*").alias("n"))
    w = W.partitionBy("user_id").orderBy(F.col("n").desc(), F.col("tok").asc())
    top = (
        counts.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") == 1)
        .select("user_id", F.col("tok").alias("top_token"))
    )
    vocab = counts.groupBy("user_id").agg(F.count("*").alias("n_vocab"))
    return (
        base.join(vocab, "user_id")
        .join(top, "user_id")
        .select(
            "user_id", "n_docs", "n_tokens", "n_vocab", "top_token",
            F.round(F.col("n_alpha") / F.col("n_chars"), 4).alias("pct_alpha"),
            F.round(F.col("n_digit") / F.col("n_chars"), 4).alias("pct_digit"),
            F.round(F.col("n_tokens") / F.col("n_docs"), 4).alias("toks_per_doc"),
        )
    )


O_USER_WORD_STATS = """
WITH docs AS (SELECT doc_id % 150 AS user_id, text FROM documents),
base AS (
  SELECT user_id, count(*) AS n_docs,
         cast(sum(len(string_split(text, ' '))) as bigint) AS n_tokens,
         cast(sum(length(text)) as bigint) AS n_chars,
         cast(sum(length(regexp_replace(text, '[^a-z]', '', 'g'))) as bigint) AS n_alpha,
         cast(sum(length(regexp_replace(text, '[^0-9]', '', 'g'))) as bigint) AS n_digit
  FROM docs GROUP BY user_id),
toks AS (
  SELECT user_id, unnest(string_split(text, ' ')) AS tok FROM docs),
counts AS (
  SELECT user_id, tok, count(*) AS n FROM toks WHERE tok != '' GROUP BY 1, 2),
top AS (
  SELECT user_id, tok AS top_token FROM (
    SELECT user_id, tok,
           row_number() OVER (PARTITION BY user_id ORDER BY n DESC, tok ASC) AS rnk
    FROM counts) WHERE rnk = 1),
vocab AS (SELECT user_id, count(*) AS n_vocab FROM counts GROUP BY user_id)
SELECT b.user_id, b.n_docs, b.n_tokens, v.n_vocab, t.top_token,
       round(b.n_alpha * 1.0 / b.n_chars, 4) AS pct_alpha,
       round(b.n_digit * 1.0 / b.n_chars, 4) AS pct_digit,
       round(b.n_tokens * 1.0 / b.n_docs, 4) AS toks_per_doc
FROM base b JOIN vocab v ON b.user_id = v.user_id
JOIN top t ON b.user_id = t.user_id
"""


# =====================================================================
# S6 — friend-edge scan (outgoing direction) with lastscan staleness gate
# =====================================================================

def q_s6_friend_scan(spark, sf):
    """S6 (addfriends.py:20-48): scan OUTGOING follows for users whose
    lastscan is stale (>100 days: addfriends.py:23 skips fresh scans).
    Edges = (follower l_suppkey -> followee l_partkey); lastscan(user) =
    max order date over the user's key class; due = stale-or-never."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    edges = li.select(
        F.col("l_suppkey").alias("user_id"), F.col("l_partkey").alias("follows")
    ).dropDuplicates(["user_id", "follows"])
    lastscan = o.groupBy(
        F.pmod(F.col("o_custkey"), F.lit(100)).alias("user_mod")
    ).agg(F.max("o_orderdate").alias("last_scan"))
    users = edges.select("user_id").distinct().withColumn(
        "user_mod", F.pmod(F.col("user_id"), F.lit(100))
    )
    due = (
        users.join(F.broadcast(lastscan), "user_mod", "left")
        .where(
            F.col("last_scan").isNull() | (F.col("last_scan") < F.lit("2001-07-01"))
        )
        .select("user_id")
    )
    return (
        edges.join(due, "user_id", "left_semi")
        .groupBy("user_id")
        .agg(
            F.countDistinct("follows").alias("n_friends"),
            F.min("follows").alias("min_friend"),
            F.max("follows").alias("max_friend"),
        )
    )


O_S6_FRIENDS = """
WITH edges AS (
  SELECT DISTINCT l_suppkey AS user_id, l_partkey AS follows FROM lineitem),
lastscan AS (
  SELECT o_custkey % 100 AS user_mod, max(o_orderdate) AS last_scan
  FROM orders GROUP BY 1),
due AS (
  SELECT u.user_id FROM (SELECT DISTINCT user_id FROM edges) u
  LEFT JOIN lastscan s ON u.user_id % 100 = s.user_mod
  WHERE s.last_scan IS NULL OR s.last_scan < DATE '2001-07-01')
SELECT user_id, count(DISTINCT follows) AS n_friends,
       min(follows) AS min_friend, max(follows) AS max_friend
FROM edges WHERE user_id IN (SELECT user_id FROM due) GROUP BY user_id
"""


# =====================================================================
# S9 — trends snapshot sink
# =====================================================================

def q_s9_trends_snapshot(spark, sf):
    """S9 (gettrends.py:15-27: periodic GetTrendsWoeid -> trends insert
    with timestamp): per-day top-5 trending event types, emitted as the
    snapshot rows (day, rank, trend, n) the sink would append."""
    e = _t(spark, sf, "events")
    daily = e.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(F.count("*").alias("n"))
    w = W.partitionBy("day").orderBy(F.col("n").desc(), F.col("event_type").asc())
    return (
        daily.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("day", "rank", F.col("event_type").alias("trend"), "n")
    )


O_S9_TRENDS = """
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, count(*) AS n
  FROM events GROUP BY 1, 2)
SELECT day, rank, event_type AS trend, n FROM (
  SELECT *, row_number() OVER (PARTITION BY day ORDER BY n DESC, event_type ASC) AS rank
  FROM daily) WHERE rank <= 5
"""


# =====================================================================
# Follower stats — the per-user friend/follower profile family
# =====================================================================

def q_user_follower_stats(spark, sf):
    """Per-user follower profile (fill_follower_stats, stats.py:561-616):
    friend/follower counts, membership ("greek") and tracked splits with
    percentage features, friend∩follower overlap + Jaccard, and the
    user's own membership flag.

    Edges: deterministic supplier->supplier graph derived from lineitem
    (src = l_suppkey, dst = l_orderkey mod |supplier| + 1) — both ends in
    one key domain so relations can reciprocate. Memberships: greek =
    s_nationkey < 5, tracked = s_acctbal > 5000 (the reference's
    is_greek/get_tracked set lookups as broadcast dim joins).

    Scale shape: two hash aggs (friends, followers) + one co-partitioned
    inner join (intersection) + one union-distinct agg — everything
    partitioned by user_id, membership dim broadcast, no all-pairs. All
    ratios derive from exact integer arithmetic (int/int IEEE division)
    so the value-hash matches DuckDB bit-for-bit."""
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    nsup = s.select(F.count("*").alias("__n"))
    dst = (F.pmod(F.col("l_orderkey"), F.col("__n")) + 1).cast("bigint")
    edges = (
        li.where((F.col("l_quantity") <= 5) & (F.col("l_linenumber") <= 2))
        .crossJoin(F.broadcast(nsup))
        .select(F.col("l_suppkey").cast("bigint").alias("src"), dst.alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    mem = s.select(
        F.col("s_suppkey").cast("bigint").alias("uid"),
        (F.col("s_nationkey") < 5).alias("is_greek"),
        (F.col("s_acctbal") > 5000).alias("is_tracked"),
    )
    fr = edges.select(F.col("src").alias("user_id"), F.col("dst").alias("other"))
    fo = edges.select(F.col("dst").alias("user_id"), F.col("src").alias("other"))

    def side_stats(df, seen, gr, tr):
        return (
            df.join(F.broadcast(mem), df.other == mem.uid)
            .groupBy("user_id")
            .agg(
                F.count("*").alias(seen),
                F.sum(F.col("is_greek").cast("long")).alias(gr),
                F.sum(F.col("is_tracked").cast("long")).alias(tr),
            )
        )

    fr_stats = side_stats(fr, "seen_fr", "gr_fr", "tr_fr")
    fo_stats = side_stats(fo, "seen_fo", "gr_fo", "tr_fo")
    and_stats = (
        fr.join(fo, ["user_id", "other"]).groupBy("user_id")
        .agg(F.count("*").alias("fr_and_fo"))
    )
    or_stats = (
        fr.unionByName(fo).distinct()
        .join(F.broadcast(mem), F.col("other") == mem.uid)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("fr_or_fo"),
            F.sum(F.col("is_greek").cast("long")).alias("gr_fr_fo"),
        )
    )
    base = (
        mem.withColumnRenamed("uid", "user_id")
        .join(fr_stats, "user_id", "left")
        .join(fo_stats, "user_id", "left")
        .join(and_stats, "user_id", "left")
        .join(or_stats, "user_id", "left")
    )
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("long")
    pcnt = lambda num, den: F.round(F.lit(100) * num / F.greatest(den, F.lit(1)), 4)
    return base.select(
        "user_id",
        F.col("is_greek").alias("greek"),
        z("seen_fr").alias("seen_fr"),
        z("gr_fr").alias("gr_fr"),
        pcnt(z("gr_fr"), z("seen_fr")).alias("gr_fr_pcnt"),
        z("tr_fr").alias("tr_fr"),
        pcnt(z("tr_fr"), z("seen_fr")).alias("tr_fr_pcnt"),
        z("seen_fo").alias("seen_fo"),
        z("gr_fo").alias("gr_fo"),
        pcnt(z("gr_fo"), z("seen_fo")).alias("gr_fo_pcnt"),
        z("tr_fo").alias("tr_fo"),
        pcnt(z("tr_fo"), z("seen_fo")).alias("tr_fo_pcnt"),
        z("fr_and_fo").alias("fr_and_fo"),
        z("fr_or_fo").alias("fr_or_fo"),
        F.round(z("fr_and_fo") / F.greatest(z("fr_or_fo"), F.lit(1)), 4).alias("fr_fo_jaccard"),
        z("gr_fr_fo").alias("gr_fr_fo"),
        pcnt(z("gr_fr_fo"), z("fr_or_fo")).alias("gr_fr_fo_pcnt"),
    )


O_USER_FOLLOWER_STATS = """
WITH n AS (SELECT count(*) AS n_supp FROM supplier),
edges AS (
  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
         CAST((l_orderkey % (SELECT n_supp FROM n)) + 1 AS BIGINT) AS dst
  FROM lineitem
  WHERE l_quantity <= 5 AND l_linenumber <= 2
    AND CAST(l_suppkey AS BIGINT) != CAST((l_orderkey % (SELECT n_supp FROM n)) + 1 AS BIGINT)),
mem AS (SELECT CAST(s_suppkey AS BIGINT) AS uid, s_nationkey < 5 AS is_greek,
               s_acctbal > 5000 AS is_tracked FROM supplier),
fr AS (SELECT src AS user_id, dst AS other FROM edges),
fo AS (SELECT dst AS user_id, src AS other FROM edges),
fr_stats AS (
  SELECT user_id, count(*) AS seen_fr,
         CAST(sum(CASE WHEN is_greek THEN 1 ELSE 0 END) AS BIGINT) AS gr_fr,
         CAST(sum(CASE WHEN is_tracked THEN 1 ELSE 0 END) AS BIGINT) AS tr_fr
  FROM fr JOIN mem ON other = uid GROUP BY user_id),
fo_stats AS (
  SELECT user_id, count(*) AS seen_fo,
         CAST(sum(CASE WHEN is_greek THEN 1 ELSE 0 END) AS BIGINT) AS gr_fo,
         CAST(sum(CASE WHEN is_tracked THEN 1 ELSE 0 END) AS BIGINT) AS tr_fo
  FROM fo JOIN mem ON other = uid GROUP BY user_id),
and_stats AS (
  SELECT fr.user_id, count(*) AS fr_and_fo
  FROM fr JOIN fo ON fr.user_id = fo.user_id AND fr.other = fo.other
  GROUP BY fr.user_id),
or_stats AS (
  SELECT user_id, count(*) AS fr_or_fo,
         CAST(sum(CASE WHEN is_greek THEN 1 ELSE 0 END) AS BIGINT) AS gr_fr_fo
  FROM (SELECT user_id, other FROM fr UNION SELECT user_id, other FROM fo) u
  JOIN mem ON other = uid GROUP BY user_id)
SELECT m.uid AS user_id, m.is_greek AS greek,
  COALESCE(seen_fr, 0) AS seen_fr, COALESCE(gr_fr, 0) AS gr_fr,
  round(100 * COALESCE(gr_fr, 0) / greatest(COALESCE(seen_fr, 0), 1), 4) AS gr_fr_pcnt,
  COALESCE(tr_fr, 0) AS tr_fr,
  round(100 * COALESCE(tr_fr, 0) / greatest(COALESCE(seen_fr, 0), 1), 4) AS tr_fr_pcnt,
  COALESCE(seen_fo, 0) AS seen_fo, COALESCE(gr_fo, 0) AS gr_fo,
  round(100 * COALESCE(gr_fo, 0) / greatest(COALESCE(seen_fo, 0), 1), 4) AS gr_fo_pcnt,
  COALESCE(tr_fo, 0) AS tr_fo,
  round(100 * COALESCE(tr_fo, 0) / greatest(COALESCE(seen_fo, 0), 1), 4) AS tr_fo_pcnt,
  COALESCE(fr_and_fo, 0) AS fr_and_fo, COALESCE(fr_or_fo, 0) AS fr_or_fo,
  round(COALESCE(fr_and_fo, 0) / greatest(COALESCE(fr_or_fo, 0), 1), 4) AS fr_fo_jaccard,
  COALESCE(gr_fr_fo, 0) AS gr_fr_fo,
  round(100 * COALESCE(gr_fr_fo, 0) / greatest(COALESCE(fr_or_fo, 0), 1), 4) AS gr_fr_fo_pcnt
FROM mem m
LEFT JOIN fr_stats ON fr_stats.user_id = m.uid
LEFT JOIN fo_stats ON fo_stats.user_id = m.uid
LEFT JOIN and_stats ON and_stats.user_id = m.uid
LEFT JOIN or_stats ON or_stats.user_id = m.uid
"""


# =====================================================================
# Curation sweeps — duplicate user versions + cemetery contradictions
# =====================================================================

def _user_versions(spark, sf):
    """Versioned user records (userdedup.py's users collection shape):
    every customer appears once, half get a SECOND version that differs
    only in the volatile counter (acctbal — the statuses/favourites
    analog, ignored by the dedup), and every 5th gets a second version
    that differs in a STABLE field (nation), which must NOT dedup."""
    c = _t(spark, sf, "customer")
    base = c.select(
        F.col("c_custkey").alias("id"),
        F.concat(F.lit("user"), F.pmod(F.col("c_custkey"), F.lit(700)).cast("string"))
        .alias("screen_name_lower"),
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("acctbal"),
    )
    dup_volatile = base.where(F.pmod(F.col("id"), F.lit(2)) == 0).withColumn(
        "acctbal", F.col("acctbal") + 100
    )
    dup_stable = base.where(F.pmod(F.col("id"), F.lit(5)) == 0).withColumn(
        "nation", F.col("nation") + 1
    )
    return base.unionByName(dup_volatile).unionByName(dup_stable)


_SQL_USER_VERSIONS = """
  WITH base AS (
    SELECT c_custkey AS id,
           'user' || cast(c_custkey % 700 as varchar) AS screen_name_lower,
           c_nationkey AS nation, c_mktsegment AS segment,
           c_acctbal AS acctbal
    FROM customer)
  SELECT * FROM base
  UNION ALL
  SELECT id, screen_name_lower, nation, segment, acctbal + 100
  FROM base WHERE id % 2 = 0
  UNION ALL
  SELECT id, screen_name_lower, nation + 1, segment, acctbal
  FROM base WHERE id % 5 = 0
"""


def q_curation_user_dedup(spark, sf):
    """Curation sweep (twkit/curation/userdedup.py:20-50): scan user
    versions for (a) exact duplicates IGNORING volatile counters
    (timestamp/statuses/favourites there, acctbal here) — the versions
    the reference deletes — and (b) distinct ids sharing one lowercase
    screen name — the reference's "same screen name but different ids"
    warning. One aggregation over stable fields, one over names; both
    single-shuffle groupBys, no self-join."""
    v = _user_versions(spark, sf)
    per_id = v.groupBy("id", "screen_name_lower").agg(
        F.count(F.lit(1)).alias("n_versions"),
        # versions whose stable fields all match the id's first version
        # collapse; reference deletes all but one per stable-identical set
        (
            F.count(F.lit(1))
            - F.countDistinct("nation", "segment")
        ).alias("n_deletable"),
    )
    clashes = (
        v.groupBy("screen_name_lower")
        .agg(F.countDistinct("id").alias("n_ids"))
        .where(F.col("n_ids") > 1)
        .select("screen_name_lower", F.lit(True).alias("name_clash"))
    )
    return (
        per_id.join(clashes, "screen_name_lower", "left")
        .select(
            "id",
            "screen_name_lower",
            "n_versions",
            "n_deletable",
            F.coalesce("name_clash", F.lit(False)).alias("name_clash"),
        )
    )


O_CURATION_USER_DEDUP = f"""
WITH v AS ({_SQL_USER_VERSIONS}),
per_id AS (
  SELECT id, screen_name_lower,
         count(*) AS n_versions,
         count(*) - count(DISTINCT (nation, segment)) AS n_deletable
  FROM v GROUP BY id, screen_name_lower),
clashes AS (
  SELECT screen_name_lower, true AS name_clash
  FROM v GROUP BY screen_name_lower HAVING count(DISTINCT id) > 1)
SELECT p.id, p.screen_name_lower,
       cast(p.n_versions as bigint) AS n_versions,
       cast(p.n_deletable as bigint) AS n_deletable,
       coalesce(c.name_clash, false) AS name_clash
FROM per_id p LEFT JOIN clashes c USING (screen_name_lower)
"""


def q_curation_dead_list(spark, sf):
    """Curation sweep (twkit/curation/deadlist.py:14-30): for every
    account in the cemetery, report whether it is STILL tracked (the
    contradiction the tool surfaces), whether it's on the ignore list,
    and the screen name it still holds in the users collection.
    Membership sets derive deterministically from customer keys; the
    tracked/ignored dims are broadcast (tiny vs the 10^8-user users
    collection this sweeps at reference scale)."""
    c = _t(spark, sf, "customer")
    cemetery = c.where(F.pmod(F.col("c_custkey"), F.lit(7)) == 0).select(
        F.col("c_custkey").alias("uid")
    )
    tracked = c.where(F.pmod(F.col("c_custkey"), F.lit(3)) == 0).select(
        F.col("c_custkey").alias("uid"),
        F.lower(F.col("c_name")).alias("tracked_as"),
    )
    ignored = c.where(F.pmod(F.col("c_custkey"), F.lit(5)) == 0).select(
        F.col("c_custkey").alias("uid"), F.lit(True).alias("is_ignored")
    )
    users = c.where(F.pmod(F.col("c_custkey"), F.lit(2)) == 0).select(
        F.col("c_custkey").alias("uid"), F.col("c_name").alias("in_users_as")
    )
    return (
        cemetery.join(F.broadcast(tracked), "uid", "left")
        .join(F.broadcast(ignored), "uid", "left")
        .join(users, "uid", "left")
        .select(
            "uid",
            "tracked_as",
            F.coalesce("is_ignored", F.lit(False)).alias("is_ignored"),
            "in_users_as",
            (F.col("tracked_as").isNotNull()).alias("contradiction"),
        )
    )


O_CURATION_DEAD_LIST = """
WITH cem AS (SELECT c_custkey AS uid FROM customer WHERE c_custkey % 7 = 0),
tr AS (SELECT c_custkey AS uid, lower(c_name) AS tracked_as
       FROM customer WHERE c_custkey % 3 = 0),
ig AS (SELECT c_custkey AS uid, true AS is_ignored
       FROM customer WHERE c_custkey % 5 = 0),
us AS (SELECT c_custkey AS uid, c_name AS in_users_as
       FROM customer WHERE c_custkey % 2 = 0)
SELECT cem.uid, tr.tracked_as,
       coalesce(ig.is_ignored, false) AS is_ignored,
       us.in_users_as,
       tr.tracked_as IS NOT NULL AS contradiction
FROM cem
LEFT JOIN tr USING (uid)
LEFT JOIN ig USING (uid)
LEFT JOIN us USING (uid)
"""


# =====================================================================
# vectorize.py metadata + favoriter families (stats.py:948-1032)
# =====================================================================

def _class_counts(col, prefix):
    """Letter-class counts (stats.py letter_count): digits, alpha,
    upper, lower — pure regexp_replace/length expressions."""
    return [
        F.length(col).alias(f"{prefix}_len"),
        F.length(F.regexp_replace(col, "[^0-9]", "")).alias(f"{prefix}_digit"),
        F.length(F.regexp_replace(col, "[^A-Za-z]", "")).alias(f"{prefix}_alpha"),
        F.length(F.regexp_replace(col, "[^A-Z]", "")).alias(f"{prefix}_upper"),
        F.length(F.regexp_replace(col, "[^a-z]", "")).alias(f"{prefix}_lower"),
    ]


def _sql_class_counts(expr, prefix):
    return f"""
       length({expr}) AS {prefix}_len,
       length(regexp_replace({expr}, '[^0-9]', '', 'g')) AS {prefix}_digit,
       length(regexp_replace({expr}, '[^A-Za-z]', '', 'g')) AS {prefix}_alpha,
       length(regexp_replace({expr}, '[^A-Z]', '', 'g')) AS {prefix}_upper,
       length(regexp_replace({expr}, '[^a-z]', '', 'g')) AS {prefix}_lower"""


def q_user_metadata_stats(spark, sf):
    """fill_metadata_stats (stats.py:948-997): per-user profile-string
    features — screen-name and display-name letter-class counts, bio
    phrase stats (word/char class counts over the profile description),
    follower/friend totals with the reference's zero-smoothing ratio.
    screen_name = s_name; bio = the document text keyed by suppkey;
    follower/friend counts from the same supplier edge graph as
    user_follower_stats. Single pass: one narrow dim scan + broadcast
    bio join + two pre-aggregated edge sides."""
    s = _t(spark, sf, "supplier")
    d = _t(spark, sf, "documents")
    li = _t(spark, sf, "lineitem")
    nsup = s.select(F.count("*").alias("__n"))
    dst = (F.pmod(F.col("l_orderkey"), F.col("__n")) + 1).cast("bigint")
    edges = (
        li.where((F.col("l_quantity") <= 5) & (F.col("l_linenumber") <= 2))
        .crossJoin(F.broadcast(nsup))
        .select(F.col("l_suppkey").cast("bigint").alias("src"), dst.alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    friends = edges.groupBy(F.col("src").alias("uid")).agg(
        F.count("*").alias("friends_count")
    )
    followers = edges.groupBy(F.col("dst").alias("uid")).agg(
        F.count("*").alias("followers_count")
    )
    bio = d.select(
        F.col("doc_id").alias("bio_key"),
        F.col("text").alias("bio"),
    )
    base = (
        s.select(
            F.col("s_suppkey").cast("bigint").alias("uid"),
            F.col("s_name").alias("screen_name"),
            F.pmod(F.col("s_suppkey"), F.lit(500)).alias("bio_key"),
        )
        .join(F.broadcast(bio), "bio_key", "left")
        .drop("bio_key")
    )
    toks = F.split(F.col("bio"), " ")
    phrase = [
        F.size(toks).alias("bio_words"),
        F.size(F.filter(toks, lambda t: t.rlike("^[A-Z]"))).alias("bio_upper_words"),
        F.size(F.filter(toks, lambda t: t.rlike("^[a-z]"))).alias("bio_lower_words"),
        F.length(F.regexp_replace(F.col("bio"), "[^!-/:-@]", "")).alias(
            "bio_punctuation_chars"
        ),
        F.length(F.regexp_replace(F.col("bio"), "[^0-9]", "")).alias("bio_digit_chars"),
        F.length(F.regexp_replace(F.col("bio"), "[^A-Za-z]", "")).alias(
            "bio_alpha_chars"
        ),
        F.length(F.col("bio")).alias("bio_total_chars"),
    ]
    wide = base.select(
        "uid",
        "screen_name",
        *_class_counts(F.col("screen_name"), "screen_name"),
        *phrase,
    )
    out = (
        wide.join(friends, "uid", "left")
        .join(followers, "uid", "left")
        .withColumn("friends_count", F.coalesce("friends_count", F.lit(0)))
        .withColumn("followers_count", F.coalesce("followers_count", F.lit(0)))
    )
    # the reference smooths a zero follower count to 1 before the ratio
    return out.withColumn(
        "fr_fo_ratio",
        F.round(
            F.col("friends_count")
            / F.greatest(F.col("followers_count"), F.lit(1)),
            4,
        ),
    )


O_USER_METADATA_STATS = f"""
WITH nsup AS (SELECT count(*) AS n FROM supplier),
edges AS (
  SELECT DISTINCT l_suppkey AS src, (l_orderkey % (SELECT n FROM nsup)) + 1 AS dst
  FROM lineitem WHERE l_quantity <= 5 AND l_linenumber <= 2
    AND l_suppkey != (l_orderkey % (SELECT n FROM nsup)) + 1),
fr AS (SELECT src AS uid, count(*) AS friends_count FROM edges GROUP BY src),
fo AS (SELECT dst AS uid, count(*) AS followers_count FROM edges GROUP BY dst),
base AS (
  SELECT s_suppkey AS uid, s_name AS screen_name, d.text AS bio
  FROM supplier LEFT JOIN documents d ON d.doc_id = s_suppkey % 500),
wide AS (
  SELECT uid, screen_name,{_sql_class_counts('screen_name', 'screen_name')},
       len(string_split(bio, ' ')) AS bio_words,
       len(list_filter(string_split(bio, ' '), t -> regexp_matches(t, '^[A-Z]')))
         AS bio_upper_words,
       len(list_filter(string_split(bio, ' '), t -> regexp_matches(t, '^[a-z]')))
         AS bio_lower_words,
       length(regexp_replace(bio, '[^!-/:-@]', '', 'g')) AS bio_punctuation_chars,
       length(regexp_replace(bio, '[^0-9]', '', 'g')) AS bio_digit_chars,
       length(regexp_replace(bio, '[^A-Za-z]', '', 'g')) AS bio_alpha_chars,
       length(bio) AS bio_total_chars
  FROM base)
SELECT w.uid, w.screen_name,
       w.screen_name_len, w.screen_name_digit, w.screen_name_alpha,
       w.screen_name_upper, w.screen_name_lower,
       w.bio_words, w.bio_upper_words, w.bio_lower_words,
       w.bio_punctuation_chars, w.bio_digit_chars, w.bio_alpha_chars,
       w.bio_total_chars,
       coalesce(fr.friends_count, 0) AS friends_count,
       coalesce(fo.followers_count, 0) AS followers_count,
       round(coalesce(fr.friends_count, 0) * 1.0
             / greatest(coalesce(fo.followers_count, 0), 1), 4) AS fr_fo_ratio
FROM wide w LEFT JOIN fr ON fr.uid = w.uid LEFT JOIN fo ON fo.uid = w.uid
"""


FAV_AUTHOR_MOD = 97


def q_user_favoriter_stats(spark, sf):
    """fill_favoriter_stats (stats.py:1002-1032): per-user favorite
    graph — how many distinct users favorite MY tweets (favoriters, via
    get_favoriters' tweet->favorites join) and how many distinct users'
    tweets I favorite (favorited, via get_favorited's favorites->tweet
    ownership lookup) — plus the top counter-party by count with a
    deterministic min-id tie-break (the reference's most_common head).
    Favorites edges reuse the S8 derivation; tweet ownership is
    author(tweet_id) = tweet_id mod {FAV_AUTHOR_MOD}. Both directions
    are single hash-agg passes over the edge table keyed by user."""
    li = _t(spark, sf, "lineitem")
    favs = (
        li.select(
            F.pmod(F.col("l_orderkey"), F.lit(200)).alias("faver"),
            (F.col("l_partkey") * 100000 + F.col("l_suppkey")).alias("tweet_id"),
        )
        .dropDuplicates(["faver", "tweet_id"])
        .withColumn("author", F.pmod(F.col("tweet_id"), F.lit(FAV_AUTHOR_MOD)))
    )
    # favoriters of U: group my-tweets' favers
    by_pair_in = favs.groupBy(
        F.col("author").alias("uid"), F.col("faver").alias("other")
    ).agg(F.count("*").alias("n"))
    w_in = W.partitionBy("uid").orderBy(F.col("n").desc(), F.col("other").asc())
    favoriters = by_pair_in.groupBy("uid").agg(
        F.count("*").alias("favoriters"),
        # composite tie-break key: max n, then min other (other < 100000)
        F.max_by(F.col("other"), F.col("n") * 100000 - F.col("other")).alias(
            "top_favoriter"
        ),
        F.max("n").alias("top_favoriter_count"),
    )
    # favorited BY U: group the authors of tweets U faved
    by_pair_out = favs.groupBy(
        F.col("faver").alias("uid"), F.col("author").alias("other")
    ).agg(F.count("*").alias("n"))
    favorited = by_pair_out.groupBy("uid").agg(
        F.count("*").alias("favorited"),
        F.max_by(F.col("other"), F.col("n") * 100000 - F.col("other")).alias(
            "top_favorited"
        ),
        F.max("n").alias("top_favorited_count"),
    )
    return favoriters.join(favorited, "uid", "outer").na.fill(
        0, ["favoriters", "favorited"]
    )


O_USER_FAVORITER_STATS = f"""
WITH favs AS (
  SELECT DISTINCT l_orderkey % 200 AS faver,
         l_partkey * 100000 + l_suppkey AS tweet_id
  FROM lineitem),
fa AS (SELECT faver, tweet_id, tweet_id % {FAV_AUTHOR_MOD} AS author FROM favs),
pin AS (SELECT author AS uid, faver AS other, count(*) AS n
        FROM fa GROUP BY 1, 2),
pout AS (SELECT faver AS uid, author AS other, count(*) AS n
         FROM fa GROUP BY 1, 2),
fin AS (
  SELECT uid, count(*) AS favoriters,
         arg_max(other, n * 100000 - other) AS top_favoriter,
         max(n) AS top_favoriter_count
  FROM pin GROUP BY uid),
fout AS (
  SELECT uid, count(*) AS favorited,
         arg_max(other, n * 100000 - other) AS top_favorited,
         max(n) AS top_favorited_count
  FROM pout GROUP BY uid)
SELECT coalesce(fin.uid, fout.uid) AS uid,
       coalesce(favoriters, 0) AS favoriters,
       top_favoriter, top_favoriter_count,
       coalesce(favorited, 0) AS favorited,
       top_favorited, top_favorited_count
FROM fin FULL OUTER JOIN fout ON fin.uid = fout.uid
"""


# =====================================================================
# nightowls — night/day activity split + max-daily-interval stats
# =====================================================================

NIGHT_HOURS = (0, 1, 2, 3, 4, 5, 18, 19, 20, 21, 22, 23)


def q_nightowls(spark, sf):
    """nightowls.py:53-64: per user, tweets in night hours (0-5, 18-23)
    vs day hours, the is_nightowl flag (night > day), and the
    max-daily-interval family — per (user, day) the MAXIMUM inter-event
    gap, then max/avg/min/median/stdev of those per-day maxima across
    days (the reference reads these straight off the materialized user
    vector; here they derive from events in one window + two aggs).
    Gaps are integer epoch seconds, so avg/std come from exact integer
    sums with one double op at the end (population std, numpy default);
    days with fewer than two events contribute no interval."""
    e = _t(spark, sf, "events")
    te = F.floor(F.unix_timestamp("ts")).cast("long")
    day = F.date_format("ts", "yyyy-MM-dd")
    gaps = e.select(
        "user_id",
        day.alias("day"),
        (te - F.lag(te).over(
            W.partitionBy("user_id", day).orderBy(
                F.col("ts").asc(), F.col("event_id").asc()
            )
        )).alias("gap"),
    )
    daily = gaps.where(F.col("gap").isNotNull()).groupBy("user_id", "day").agg(
        F.max("gap").alias("mdi")
    )
    n = F.count(F.lit(1))
    s = F.sum("mdi")
    s2 = F.sum(F.col("mdi") * F.col("mdi"))
    mdi_stats = daily.groupBy("user_id").agg(
        F.max("mdi").alias("max_mdi"),
        F.min("mdi").alias("min_mdi"),
        F.round(s / n, 4).alias("avg_mdi"),
        F.round(F.expr("percentile(mdi, 0.5)"), 4).alias("med_mdi"),
        F.round(F.sqrt(F.greatest(n * s2 - s * s, F.lit(0))) / n, 4).alias("std_mdi"),
    )
    night = F.sum(F.when(F.hour("ts").isin(*NIGHT_HOURS), 1).otherwise(0))
    counts = e.groupBy("user_id").agg(
        night.alias("night_tweets"),
        (F.count(F.lit(1)) - night).alias("day_tweets"),
    )
    return (
        counts.join(mdi_stats, "user_id", "left")
        .withColumn("is_nightowl", F.col("night_tweets") > F.col("day_tweets"))
        .select(
            "user_id", "night_tweets", "day_tweets", "is_nightowl",
            "max_mdi", "min_mdi", "avg_mdi", "med_mdi", "std_mdi",
        )
    )


O_NIGHTOWLS = f"""
WITH g AS (
  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
         cast(floor(epoch(ts)) as bigint)
           - lag(cast(floor(epoch(ts)) as bigint))
             OVER (PARTITION BY user_id, strftime(ts, '%Y-%m-%d')
                   ORDER BY ts ASC, event_id ASC) AS gap
  FROM events),
daily AS (
  SELECT user_id, day, max(gap) AS mdi
  FROM g WHERE gap IS NOT NULL GROUP BY user_id, day),
mdi_stats AS (
  SELECT user_id,
         max(mdi) AS max_mdi, min(mdi) AS min_mdi,
         round(sum(mdi) * 1.0 / count(*), 4) AS avg_mdi,
         round(quantile_cont(mdi, 0.5), 4) AS med_mdi,
         round(sqrt(greatest(count(*) * sum(mdi * mdi) - sum(mdi) * sum(mdi), 0))
               / count(*), 4) AS std_mdi
  FROM daily GROUP BY user_id),
counts AS (
  SELECT user_id,
         cast(sum(CASE WHEN hour(ts) IN {NIGHT_HOURS} THEN 1 ELSE 0 END) as bigint)
           AS night_tweets,
         cast(sum(CASE WHEN hour(ts) IN {NIGHT_HOURS} THEN 0 ELSE 1 END) as bigint)
           AS day_tweets
  FROM events GROUP BY user_id)
SELECT c.user_id, c.night_tweets, c.day_tweets,
       c.night_tweets > c.day_tweets AS is_nightowl,
       m.max_mdi, m.min_mdi, m.avg_mdi, m.med_mdi, m.std_mdi
FROM counts c LEFT JOIN mdi_stats m USING (user_id)
"""


# =====================================================================
# dialogues — recursive reply-thread exploration (iterative closure)
# =====================================================================

DIALOGUE_STEP = 1000   # parent(tweet) = tweet - STEP (deterministic chains)
DIALOGUE_MAX_DEPTH = 6


def q_dialogues(spark, sf):
    """dialogues.py explore_thread: starting from root tweets, walk the
    reply graph downward (children = tweets whose in_reply_to is the
    current tweet), depth-bounded. The reference recurses per tweet in
    Python; here the closure is the level-synchronous BFS of
    operators/graph.py:reply_closure — the corpus-scale reply-edge
    table is hash-partitioned on parent ONCE (persisted; every level
    reuses that single exchange), each level is checkpointed flat, and
    the loop exits early when a level drains. Output is one row per
    root: thread size and max depth reached.

    Reply edges derive deterministically from events: tweet e replies
    to e - 1000 when e >= 1000 and e % 3 != 0; the rest are roots."""
    from .operators.graph import reply_closure

    e = _t(spark, sf, "events")
    tweets = e.select(F.col("event_id").alias("tweet_id"))
    is_reply = (F.col("tweet_id") >= DIALOGUE_STEP) & (
        F.pmod(F.col("tweet_id"), F.lit(3)) != 0
    )
    edges = tweets.where(is_reply).select(
        F.col("tweet_id").alias("child"),
        (F.col("tweet_id") - DIALOGUE_STEP).alias("parent"),
    )
    roots = tweets.where(~is_reply).select(
        F.col("tweet_id").alias("root"), F.col("tweet_id"), F.lit(0).alias("depth")
    )
    closure = reply_closure(roots, edges, DIALOGUE_MAX_DEPTH)
    return closure.groupBy("root").agg(
        F.count(F.lit(1)).alias("n_tweets"),
        F.max("depth").alias("max_depth"),
    )


O_DIALOGUES = f"""
WITH tweets AS (SELECT event_id AS tweet_id FROM events),
edges AS (
  SELECT tweet_id AS child, tweet_id - {DIALOGUE_STEP} AS parent
  FROM tweets WHERE tweet_id >= {DIALOGUE_STEP} AND tweet_id % 3 != 0),
roots AS (
  SELECT tweet_id FROM tweets
  WHERE NOT (tweet_id >= {DIALOGUE_STEP} AND tweet_id % 3 != 0)),
thread AS (
  WITH RECURSIVE walk(root, tweet_id, depth) AS (
    SELECT tweet_id, tweet_id, 0 FROM roots
    UNION ALL
    SELECT w.root, e.child, w.depth + 1
    FROM walk w JOIN edges e ON e.parent = w.tweet_id
    WHERE w.depth < {DIALOGUE_MAX_DEPTH})
  SELECT * FROM walk)
SELECT root, count(*) AS n_tweets, cast(max(depth) as int) AS max_depth
FROM thread GROUP BY root
"""


# =====================================================================
# findsilent — silent-cluster detection (pairwise Jaccard of friend
# sets of low-activity users)
# =====================================================================

SILENT_STATUS_THRESHOLD = 6   # statuses below this = "silent" (findsilent's ==0)
SILENT_FRIEND_THRESHOLD = 10  # --fthreshold: only well-connected silents
SILENT_JACCARD_THRESHOLD = 0.15  # --jthreshold


def q_silent_clusters(spark, sf):
    """findsilent.py:80-113: collect users with near-zero posting
    activity but >= fthreshold friends, then report pairs of silent
    users whose friend sets overlap with Jaccard > jthreshold (bot-net
    signature: many registered-but-mute accounts following the same
    herd). The reference loops all-pairs in Python over in-memory sets;
    here the intersection counts come from ONE self-join keyed on the
    shared friend id — |silent| is tiny relative to the corpus, so the
    join input is the semi-joined edge slice, never all users' edges.

    Fixture: friend edges = lineitem (l_suppkey follows l_partkey),
    activity = per-custkey order count (suppkeys share the custkey id
    space)."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    edges = li.select(
        F.col("l_suppkey").alias("user_id"), F.col("l_partkey").alias("follows")
    ).dropDuplicates(["user_id", "follows"])
    activity = o.groupBy(F.col("o_custkey").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_statuses")
    )
    friends = edges.groupBy("user_id").agg(
        F.countDistinct("follows").alias("n_friends")
    )
    silent = (
        friends.join(activity, "user_id", "left")
        .where(
            (F.coalesce("n_statuses", F.lit(0)) < SILENT_STATUS_THRESHOLD)
            & (F.col("n_friends") >= SILENT_FRIEND_THRESHOLD)
        )
        .select("user_id", "n_friends")
    )
    sedges = edges.join(F.broadcast(silent.select("user_id")), "user_id", "left_semi")
    a, b = sedges.alias("a"), sedges.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.follows") == F.col("b.follows"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("user_a"), F.col("b.user_id").alias("user_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = silent.select(F.col("user_id").alias("user_a"), F.col("n_friends").alias("na"))
    sb = silent.select(F.col("user_id").alias("user_b"), F.col("n_friends").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(F.broadcast(sa), "user_a")
        .join(F.broadcast(sb), "user_b")
        .where(jac > SILENT_JACCARD_THRESHOLD)
        .select("user_a", "user_b", "n_common", F.round(jac, 4).alias("jaccard"))
    )


O_SILENT_CLUSTERS = f"""
WITH edges AS (
  SELECT DISTINCT l_suppkey AS user_id, l_partkey AS follows FROM lineitem),
activity AS (
  SELECT o_custkey AS user_id, count(*) AS n_statuses FROM orders GROUP BY 1),
friends AS (
  SELECT user_id, count(DISTINCT follows) AS n_friends FROM edges GROUP BY 1),
silent AS (
  SELECT f.user_id, f.n_friends
  FROM friends f LEFT JOIN activity a USING (user_id)
  WHERE coalesce(a.n_statuses, 0) < {SILENT_STATUS_THRESHOLD}
    AND f.n_friends >= {SILENT_FRIEND_THRESHOLD}),
sedges AS (
  SELECT e.* FROM edges e JOIN silent s USING (user_id)),
inter AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b, count(*) AS n_common
  FROM sedges a JOIN sedges b
    ON a.follows = b.follows AND a.user_id < b.user_id
  GROUP BY 1, 2)
SELECT i.user_a, i.user_b, i.n_common,
       round(i.n_common * 1.0 / (sa.n_friends + sb.n_friends - i.n_common), 4)
         AS jaccard
FROM inter i
JOIN silent sa ON sa.user_id = i.user_a
JOIN silent sb ON sb.user_id = i.user_b
WHERE i.n_common * 1.0 / (sa.n_friends + sb.n_friends - i.n_common)
      > {SILENT_JACCARD_THRESHOLD}
"""


# =====================================================================
# graphword / entities — per-word daily usage series with zero-fill
# =====================================================================

TRACKED_WORDS = ("spark", "join", "scan", "filter", "vector")
WORD_DAY_BASE = "2024-01-01"


def q_word_daily_series(spark, sf):
    """graphword.py:83-112 + entities.py: per tracked word, the daily
    usage series — documents mentioning the word that day, split into
    marked (the urlcnt analog: docs also containing 'table') and plain
    — with the day axis ZERO-FILLED across the global [first, last]
    range like the reference's explicit gap loop (graphword.py:105-111).
    Day(doc) derives deterministically from doc_id; the word explode is
    a single scan + hash agg; the dense day axis is sequence+explode
    cross the tiny tracked-word dim (no per-day driver loop)."""
    d = _t(spark, sf, "documents")
    day = F.date_add(F.lit(WORD_DAY_BASE).cast("date"), F.pmod(F.col("doc_id"), F.lit(31)).cast("int"))
    toks = d.select(
        day.alias("day"),
        F.col("text").contains("table").alias("marked"),
        F.explode(F.array_distinct(F.split(F.lower(F.col("text")), " "))).alias("word"),
    ).where(F.col("word").isin(*TRACKED_WORDS))
    counts = toks.groupBy("word", "day").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("marked").cast("long")).alias("n_marked"),
    )
    bounds = counts.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    axis = bounds.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
    ).crossJoin(
        spark.createDataFrame([(w,) for w in TRACKED_WORDS], ["word"])
    )
    return (
        axis.join(counts, ["word", "day"], "left")
        .select(
            "word",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
            F.coalesce("n_marked", F.lit(0)).alias("n_marked"),
        )
    )


O_WORD_DAILY_SERIES = f"""
WITH docs AS (
  SELECT DATE '{WORD_DAY_BASE}' + CAST(doc_id % 31 AS INT) AS day,
         contains(text, 'table') AS marked,
         unnest(list_distinct(string_split(lower(text), ' '))) AS word
  FROM documents),
counts AS (
  SELECT word, day, count(*) AS n_docs,
         sum(CASE WHEN marked THEN 1 ELSE 0 END) AS n_marked
  FROM docs WHERE word IN {repr(tuple(TRACKED_WORDS))}
  GROUP BY 1, 2),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM counts),
axis AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM bounds),
words AS (SELECT unnest({list(TRACKED_WORDS)!r}) AS word)
SELECT w.word, strftime(a.day, '%Y-%m-%d') AS day,
       coalesce(c.n_docs, 0) AS n_docs,
       cast(coalesce(c.n_marked, 0) as bigint) AS n_marked
FROM axis a CROSS JOIN words w
LEFT JOIN counts c ON c.word = w.word AND c.day = a.day
"""


# =====================================================================
# aliases — screen-name history chains from the SCD2 users versions
# =====================================================================

def _alias_versions(spark, sf):
    """Versioned user records WITH screen-name changes: every user has
    version 1; every 3rd id renamed at version 2 (suffix 'x'); every
    9th renamed again at version 3 (suffix 'y'); non-renamed ids with
    id%5==1 get a version 2 that does NOT change the name
    (volatile-only update — must not appear as an alias change).
    Version numbers never collide within an id, keeping the lag order
    total."""
    c = _t(spark, sf, "customer")
    uid = F.col("c_custkey")
    name0 = F.concat(F.lit("user"), F.pmod(uid, F.lit(700)).cast("string"))
    v1 = c.select(uid.alias("id"), F.lit(1).alias("version"), name0.alias("screen_name"))
    v2r = c.where(F.pmod(uid, F.lit(3)) == 0).select(
        uid.alias("id"), F.lit(2).alias("version"),
        F.concat(name0, F.lit("x")).alias("screen_name"),
    )
    v2s = c.where((F.pmod(uid, F.lit(3)) != 0) & (F.pmod(uid, F.lit(5)) == 1)).select(
        uid.alias("id"), F.lit(2).alias("version"), name0.alias("screen_name")
    )
    v3 = c.where(F.pmod(uid, F.lit(9)) == 0).select(
        uid.alias("id"), F.lit(3).alias("version"),
        F.concat(name0, F.lit("y")).alias("screen_name"),
    )
    return v1.unionByName(v2r).unionByName(v2s).unionByName(v3)


_SQL_ALIAS_VERSIONS = """
  SELECT c_custkey AS id, 1 AS version,
         'user' || cast(c_custkey % 700 as varchar) AS screen_name
  FROM customer
  UNION ALL
  SELECT c_custkey, 2, 'user' || cast(c_custkey % 700 as varchar) || 'x'
  FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT c_custkey, 2, 'user' || cast(c_custkey % 700 as varchar)
  FROM customer WHERE c_custkey % 3 <> 0 AND c_custkey % 5 = 1
  UNION ALL
  SELECT c_custkey, 3, 'user' || cast(c_custkey % 700 as varchar) || 'y'
  FROM customer WHERE c_custkey % 9 = 0
"""


def q_curation_aliases(spark, sf):
    """twkit/curation/aliases.py: per-user screen-name history — the
    ordered chain of names an account has held (the reference walks
    users versions per id and prints old names; the SCD2 rebuild emits
    the change chain in one pass). A version that repeats the previous
    name (volatile-only update) is NOT a change. One window (lag) +
    one hash agg — no per-user driver loop."""
    v = _alias_versions(spark, sf)
    w = W.partitionBy("id").orderBy("version")
    changes = (
        v.withColumn("prev", F.lag("screen_name").over(w))
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("screen_name")))
    )
    return (
        changes.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_names"),
            F.concat_ws(
                "->",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("version", "screen_name"))
                    ),
                    lambda x: x["screen_name"],
                ),
            ).alias("alias_chain"),
            F.max_by("screen_name", "version").alias("current_name"),
            F.min_by("screen_name", "version").alias("first_name"),
        )
        .where(F.col("n_names") > 1)
    )


O_CURATION_ALIASES = f"""
WITH v AS ({_SQL_ALIAS_VERSIONS}),
lagged AS (
  SELECT id, version, screen_name,
         lag(screen_name) OVER (PARTITION BY id ORDER BY version) AS prev
  FROM v),
changes AS (
  SELECT id, version, screen_name FROM lagged
  WHERE prev IS NULL OR prev <> screen_name)
SELECT id, count(*) AS n_names,
       string_agg(screen_name, '->' ORDER BY version) AS alias_chain,
       max_by(screen_name, version) AS current_name,
       min_by(screen_name, version) AS first_name
FROM changes GROUP BY id HAVING count(*) > 1
"""


# =====================================================================
# networkstatistics — whole-graph metrics over the follow graph
# =====================================================================

def _triangles_degree_ordered(und, deg):
    """Exact triangle count with the DEGREE-ORDERED orientation: every
    undirected edge is directed from its lower-(deg, id) endpoint to
    the higher, so each triangle is enumerated exactly once from its
    lowest-ranked vertex and the pivot fan-out is bounded by the
    oriented out-degree — O(sqrt(E)) per node under the arboricity
    bound — instead of the raw degree of hub nodes. This is what keeps
    the wedge join from exploding on celebrity-degree vertices at
    corpus scale."""
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("db"))
    ed = und.join(da, "a").join(db, "b")
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    ori = ed.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("dd"),
    )
    o1, o2 = ori.alias("o1"), ori.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src"))
        & (
            (F.col("o1.dd") < F.col("o2.dd"))
            | ((F.col("o1.dd") == F.col("o2.dd")) & (F.col("o1.dst") < F.col("o2.dst")))
        ),
    ).select(F.col("o1.dst").alias("y"), F.col("o2.dst").alias("z"))
    closing = ori.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    return wedges.join(closing, ["y", "z"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def q_graph_stats(spark, sf):
    """networkstatistics.py:66-85 (igraph whole-graph metrics), the
    SQL-expressible set: density, reciprocity, degree assortativity
    (Pearson over edge-endpoint total degrees — exact integer sums, one
    double step at the end) and undirected transitivity
    (3·triangles / wedges). Triangle counting uses the degree-ordered
    orientation (``_triangles_degree_ordered``) so pivot fan-out is
    bounded under hub skew; the DuckDB oracle enumerates triangles the
    naive id-ordered way — the two independent enumerations agreeing is
    part of the check. radius/girth/diameter are iterative-BFS metrics
    the reference gets from igraph and are documented as out of the
    batch-SQL surface (COVERAGE.md).

    Edges: the deterministic mention graph (src = user_id,
    dst = 1 + (event_id*7) % 149), self-loops dropped, deduplicated."""
    e = _t(spark, sf, "events")
    # edges/und/deg each feed several metric legs — checkpoint so the
    # 1M-event scan + distinct runs once, not per leg
    edges = (
        e.select(
            F.col("user_id").alias("src"),
            (1 + F.pmod(F.col("event_id") * 7, F.lit(149))).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    und = edges.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct().localCheckpoint(eager=False)
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=False)
    )
    base = (
        edges.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(nodes.agg(F.count(F.lit(1)).alias("n_nodes")))
        .crossJoin(
            edges.alias("x")
            .join(
                edges.alias("y"),
                (F.col("x.src") == F.col("y.dst")) & (F.col("x.dst") == F.col("y.src")),
            )
            .agg(F.count(F.lit(1)).alias("n_recip"))
        )
        .crossJoin(
            deg.agg(
                (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2).cast("long").alias("n_wedges")
            )
        )
        .crossJoin(_triangles_degree_ordered(und, deg))
        .crossJoin(
            edges.join(
                deg.select(F.col("id").alias("src"), F.col("deg").alias("dx")), "src"
            )
            .join(deg.select(F.col("id").alias("dst"), F.col("deg").alias("dy")), "dst")
            .agg(
                F.count(F.lit(1)).alias("m"),
                F.sum("dx").alias("sx"),
                F.sum("dy").alias("sy"),
                F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
                F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
                F.sum(F.col("dy") * F.col("dy")).alias("syy"),
            )
        )
    )
    assort_num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    assort_den = F.sqrt(
        (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return base.select(
        "n_nodes",
        "n_edges",
        "n_recip",
        "n_triangles",
        "n_wedges",
        F.round(
            F.col("n_edges") / (F.col("n_nodes") * (F.col("n_nodes") - F.lit(1))), 4
        ).alias("density"),
        F.round(F.col("n_recip") / F.col("n_edges"), 4).alias("reciprocity"),
        F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 4).alias("transitivity"),
        F.round(assort_num / assort_den, 4).alias("assortativity"),
    )


O_GRAPH_STATS = """
WITH edges AS (
  SELECT DISTINCT user_id AS src, 1 + (event_id * 7) % 149 AS dst
  FROM events WHERE user_id <> 1 + (event_id * 7) % 149),
nodes AS (
  SELECT DISTINCT id FROM (
    SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges),
deg AS (
  SELECT id, count(*) AS deg FROM (
    SELECT a AS id FROM und UNION ALL SELECT b FROM und) GROUP BY id),
m1 AS (SELECT count(*) AS n_edges FROM edges),
m2 AS (SELECT count(*) AS n_nodes FROM nodes),
m3 AS (
  SELECT count(*) AS n_recip
  FROM edges x JOIN edges y ON x.src = y.dst AND x.dst = y.src),
m4 AS (
  SELECT cast(sum(deg * (deg - 1)) // 2 as bigint) AS n_wedges FROM deg),
m5 AS (
  SELECT count(*) AS n_triangles
  FROM und e1
  JOIN und e2 ON e1.b = e2.a
  JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b),
m6 AS (
  SELECT count(*) AS m,
         cast(sum(dx.deg) as bigint) AS sx, cast(sum(dy.deg) as bigint) AS sy,
         cast(sum(dx.deg * dy.deg) as bigint) AS sxy,
         cast(sum(dx.deg * dx.deg) as bigint) AS sxx,
         cast(sum(dy.deg * dy.deg) as bigint) AS syy
  FROM edges
  JOIN deg dx ON dx.id = edges.src
  JOIN deg dy ON dy.id = edges.dst)
SELECT n_nodes, n_edges, n_recip, n_triangles, n_wedges,
       round(n_edges * 1.0 / (n_nodes * (n_nodes - 1)), 4) AS density,
       round(n_recip * 1.0 / n_edges, 4) AS reciprocity,
       round(3.0 * n_triangles / n_wedges, 4) AS transitivity,
       round((m * sxy - sx * sy) * 1.0
             / sqrt((m * sxx - sx * sx) * 1.0 * (m * syy - sy * sy)), 4)
         AS assortativity
FROM m1, m2, m3, m4, m5, m6
"""


# =====================================================================
# Round-4b parity wave: the remaining thin analytics/curation programs
# =====================================================================

def q_user_creation_dates(spark, sf):
    """allusercreationdates.py:36-44 — distribution of account creation
    dates as a ZERO-FILLED daily series (the reference's while-loop
    prints every day between min and max, including empty ones).
    Creation date = first activity date per user (the synthetic tables
    carry no profile collection); count = distinct users created that
    day. Scale shape: one groupBy(user) + one groupBy(date); the
    zero-fill is sequence+explode over the tiny [min,max] day span —
    never a driver loop."""
    e = _t(spark, sf, "events")
    created = e.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("cdate")
    )
    per_day = created.groupBy("cdate").agg(
        F.count("*").alias("n_users")
    )
    span = created.agg(
        F.min("cdate").alias("lo"), F.max("cdate").alias("hi")
    )
    days = span.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("cdate")
    )
    return (
        days.join(per_day, "cdate", "left")
        .select(
            F.col("cdate").cast("string").alias("cdate"),
            F.coalesce("n_users", F.lit(0)).alias("n_users"),
        )
    )


O_USER_CREATION_DATES = """
WITH created AS (
  SELECT user_id, cast(min(ts) as date) AS cdate FROM events GROUP BY user_id),
per_day AS (SELECT cdate, count(*) AS n_users FROM created GROUP BY cdate),
span AS (SELECT min(cdate) AS lo, max(cdate) AS hi FROM created),
days AS (SELECT unnest(generate_series(lo, hi, interval 1 day))::date AS cdate FROM span)
SELECT cast(d.cdate as varchar) AS cdate, coalesce(p.n_users, 0) AS n_users
FROM days d LEFT JOIN per_day p USING (cdate)
"""


USERSIM_PROBES = 15  # probe-user set, the reference runs on explicit user args


def q_usersimilarity_frfo(spark, sf):
    """usersimilarity.py:33-66 fr_fo_jaccard_similarity — for each
    probe-user pair: common friends / friend-set Jaccard and common
    followers / follower-set Jaccard. Friends(u) = distinct outgoing
    follow targets (l_suppkey -> l_partkey, the s6 edge model);
    followers(u) = distinct incoming sources. Jaccard is NULL when
    both sets are empty (the reference returns NaN).

    Scale shape: common counts come from an equi-join on the shared
    endpoint grouped by pair — never a collect_set of a whole
    adjacency; the probe-pair frame is a broadcast cross of the tiny
    probe set."""
    li = _t(spark, sf, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")
    ).dropDuplicates(["src", "dst"])

    def pair_stats(e, key, other):
        # e: (user, nbr) restricted to probe users
        mine = e.where(F.col("user") < USERSIM_PROBES)
        sizes = mine.groupBy("user").agg(F.count("*").alias("n"))
        a, b = mine.alias("a"), mine.alias("b")
        common = (
            a.join(
                b,
                (F.col("a.nbr") == F.col("b.nbr"))
                & (F.col("a.user") < F.col("b.user")),
            )
            .groupBy(
                F.col("a.user").alias("user_a"), F.col("b.user").alias("user_b")
            )
            .agg(F.count("*").alias(f"common_{key}"))
        )
        return sizes, common

    fr = edges.select(F.col("src").alias("user"), F.col("dst").alias("nbr"))
    fo = edges.select(F.col("dst").alias("user"), F.col("src").alias("nbr"))
    fr_sizes, fr_common = pair_stats(fr, "friends", None)
    fo_sizes, fo_common = pair_stats(fo, "followers", None)

    users = spark.range(USERSIM_PROBES).select(F.col("id").alias("user"))
    a, b = users.alias("ua"), users.alias("ub")
    pairs = a.crossJoin(b).where(F.col("ua.user") < F.col("ub.user")).select(
        F.col("ua.user").alias("user_a"), F.col("ub.user").alias("user_b")
    )

    def attach(p, sizes, common, key):
        p = (
            p.join(
                sizes.select(
                    F.col("user").alias("user_a"), F.col("n").alias(f"__na_{key}")
                ),
                "user_a",
                "left",
            )
            .join(
                sizes.select(
                    F.col("user").alias("user_b"), F.col("n").alias(f"__nb_{key}")
                ),
                "user_b",
                "left",
            )
            .join(common, ["user_a", "user_b"], "left")
        )
        na = F.coalesce(F.col(f"__na_{key}"), F.lit(0))
        nb = F.coalesce(F.col(f"__nb_{key}"), F.lit(0))
        cm = F.coalesce(F.col(f"common_{key}"), F.lit(0))
        un = na + nb - cm
        return (
            p.withColumn(f"common_{key}2", cm)
            .withColumn(
                f"{key}_jaccard",
                F.round(cm / F.nullif(un.cast("double"), F.lit(0.0)), 4),
            )
            .drop(f"__na_{key}", f"__nb_{key}", f"common_{key}")
            .withColumnRenamed(f"common_{key}2", f"common_{key}")
        )

    out = attach(pairs, fr_sizes, fr_common, "friends")
    out = attach(out, fo_sizes, fo_common, "followers")
    return out.select(
        "user_a", "user_b",
        "common_friends", "friends_jaccard",
        "common_followers", "followers_jaccard",
    )


O_USERSIM_FRFO = f"""
WITH edges AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
fr AS (SELECT src AS u, dst AS nbr FROM edges WHERE src < {USERSIM_PROBES}),
fo AS (SELECT dst AS u, src AS nbr FROM edges WHERE dst < {USERSIM_PROBES}),
fr_sizes AS (SELECT u, count(*) AS n FROM fr GROUP BY u),
fo_sizes AS (SELECT u, count(*) AS n FROM fo GROUP BY u),
fr_common AS (
  SELECT a.u AS user_a, b.u AS user_b, count(*) AS c
  FROM fr a JOIN fr b ON a.nbr = b.nbr AND a.u < b.u GROUP BY 1, 2),
fo_common AS (
  SELECT a.u AS user_a, b.u AS user_b, count(*) AS c
  FROM fo a JOIN fo b ON a.nbr = b.nbr AND a.u < b.u GROUP BY 1, 2),
pairs AS (
  SELECT a.range AS user_a, b.range AS user_b
  FROM range(0, {USERSIM_PROBES}) a, range(0, {USERSIM_PROBES}) b
  WHERE a.range < b.range)
SELECT p.user_a, p.user_b,
       coalesce(frc.c, 0) AS common_friends,
       round(coalesce(frc.c, 0) / nullif(
         (coalesce(fsa.n, 0) + coalesce(fsb.n, 0) - coalesce(frc.c, 0))::double, 0), 4)
         AS friends_jaccard,
       coalesce(foc.c, 0) AS common_followers,
       round(coalesce(foc.c, 0) / nullif(
         (coalesce(goa.n, 0) + coalesce(gob.n, 0) - coalesce(foc.c, 0))::double, 0), 4)
         AS followers_jaccard
FROM pairs p
LEFT JOIN fr_sizes fsa ON fsa.u = p.user_a
LEFT JOIN fr_sizes fsb ON fsb.u = p.user_b
LEFT JOIN fr_common frc ON frc.user_a = p.user_a AND frc.user_b = p.user_b
LEFT JOIN fo_sizes goa ON goa.u = p.user_a
LEFT JOIN fo_sizes gob ON gob.u = p.user_b
LEFT JOIN fo_common foc ON foc.user_a = p.user_a AND foc.user_b = p.user_b
"""


BOT_MIN_COPIED = 2  # bottweetsperuser -n analog: users with >= N copied tweets


def q_bot_tweets_per_user(spark, sf):
    """bottweetsperuser.py:38-51 — per-user count of DISTINCT copied
    tweets, sourced from the synchrotrap detector's lockstep pairs
    (the reference reads db.botsperweek, which findcommontweets.py
    writes). A user's copied tweets are every event of theirs that
    appears in any lockstep pair; users under the -n threshold are
    dropped. Composition: reuses the j8 event-pair core, one
    explode-free union + distinct + groupBy on top."""
    pairs = _j8_lockstep_event_pairs(spark, sf)
    per_user = (
        pairs.select(
            F.col("user_a").alias("user_id"), F.col("event_a").alias("tweet_id")
        )
        .unionByName(
            pairs.select(
                F.col("user_b").alias("user_id"), F.col("event_b").alias("tweet_id")
            )
        )
        .distinct()
        .groupBy("user_id")
        .agg(F.count("*").alias("n_copied"))
    )
    return per_user.where(F.col("n_copied") >= BOT_MIN_COPIED)


O_BOT_TWEETS_PER_USER = f"""
WITH {_O_J8_CTES},
per_user AS (
  SELECT user_id, count(*) AS n_copied FROM (
    SELECT DISTINCT user_id, tweet_id FROM (
      SELECT user_a AS user_id, event_a AS tweet_id FROM pairs
      UNION ALL
      SELECT user_b AS user_id, event_b AS tweet_id FROM pairs))
  GROUP BY user_id)
SELECT user_id, n_copied FROM per_user WHERE n_copied >= {BOT_MIN_COPIED}
"""


HASHTAG_MIN_LEN = 6  # hashtag analog: the corpus' long-word vocabulary


def q_hashtag_export(spark, sf):
    """hashtagexport.py (the mongo mapReduce 'hashtag_sum' view):
    per-hashtag total usage across all tweets plus the distinct-author
    count. Hashtag analog over the synthetic corpus: words of length >=
    HASHTAG_MIN_LEN; total counts every occurrence (the mapReduce sums
    per-tweet usage), authorship via doc_id % 150. One explode + one
    groupBy — the mapReduce collapses to a single partial-aggregated
    shuffle."""
    d = _t(spark, sf, "documents")
    toks = d.select(
        F.pmod(F.col("doc_id"), F.lit(150)).alias("user_id"),
        F.explode(F.split(F.col("text"), " ")).alias("tag"),
    ).where(F.length("tag") >= HASHTAG_MIN_LEN)
    return toks.groupBy("tag").agg(
        F.count("*").alias("total"),
        F.countDistinct("user_id").alias("n_users"),
    )


O_HASHTAG_EXPORT = f"""
WITH toks AS (
  SELECT doc_id % 150 AS user_id, unnest(string_split(text, ' ')) AS tag
  FROM documents)
SELECT tag, count(*) AS total, count(DISTINCT user_id) AS n_users
FROM toks WHERE len(tag) >= {HASHTAG_MIN_LEN}
GROUP BY tag
"""


EXPORT_PROBES = 25  # exportuser runs on an explicit user list


def q_export_user(spark, sf):
    """exportuser.py / curation/usertweets.py — the per-user export
    view: profile-grade rollup for a probe-user list joining every
    activity surface: event count + first/last activity + total value,
    authored-doc count (doc_id % 150), out-degree (friends) and
    in-degree (followers) on the follow graph. All sides aggregate
    BEFORE the join (partial aggs on each table, then broadcast-size
    joins on the tiny probe frame) — the export never walks raw rows
    per user like the reference's cursor loop."""
    e = _t(spark, sf, "events")
    d = _t(spark, sf, "documents")
    li = _t(spark, sf, "lineitem")
    probes = spark.range(EXPORT_PROBES).select(F.col("id").alias("user_id"))
    ev = e.where(F.col("user_id") < EXPORT_PROBES).groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.unix_timestamp(F.min("ts")).alias("first_seen_e"),
        F.unix_timestamp(F.max("ts")).alias("last_seen_e"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    docs = (
        d.select(F.pmod(F.col("doc_id"), F.lit(150)).alias("user_id"))
        .where(F.col("user_id") < EXPORT_PROBES)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_docs"))
    )
    edges = li.select(
        F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")
    ).dropDuplicates(["src", "dst"])
    outd = (
        edges.where(F.col("src") < EXPORT_PROBES)
        .groupBy(F.col("src").alias("user_id"))
        .agg(F.count("*").alias("n_friends"))
    )
    ind = (
        edges.where(F.col("dst") < EXPORT_PROBES)
        .groupBy(F.col("dst").alias("user_id"))
        .agg(F.count("*").alias("n_followers"))
    )
    out = (
        probes.join(ev, "user_id", "left")
        .join(docs, "user_id", "left")
        .join(outd, "user_id", "left")
        .join(ind, "user_id", "left")
    )
    return out.select(
        "user_id",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        "first_seen_e",
        "last_seen_e",
        F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
        F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
        F.coalesce("n_friends", F.lit(0)).alias("n_friends"),
        F.coalesce("n_followers", F.lit(0)).alias("n_followers"),
    )


O_EXPORT_USER = f"""
WITH probes AS (SELECT range AS user_id FROM range(0, {EXPORT_PROBES})),
ev AS (
  SELECT user_id, count(*) AS n_events,
         cast(floor(epoch(min(ts))) as bigint) AS first_seen_e,
         cast(floor(epoch(max(ts))) as bigint) AS last_seen_e,
         round(sum(value), 2) AS total_value
  FROM events WHERE user_id < {EXPORT_PROBES} GROUP BY user_id),
docs AS (
  SELECT doc_id % 150 AS user_id, count(*) AS n_docs
  FROM documents WHERE doc_id % 150 < {EXPORT_PROBES} GROUP BY 1),
edges AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
outd AS (
  SELECT src AS user_id, count(*) AS n_friends
  FROM edges WHERE src < {EXPORT_PROBES} GROUP BY 1),
ind AS (
  SELECT dst AS user_id, count(*) AS n_followers
  FROM edges WHERE dst < {EXPORT_PROBES} GROUP BY 1)
SELECT p.user_id,
       coalesce(ev.n_events, 0) AS n_events,
       ev.first_seen_e, ev.last_seen_e,
       coalesce(ev.total_value, 0.0) AS total_value,
       coalesce(docs.n_docs, 0) AS n_docs,
       coalesce(outd.n_friends, 0) AS n_friends,
       coalesce(ind.n_followers, 0) AS n_followers
FROM probes p
LEFT JOIN ev USING (user_id)
LEFT JOIN docs USING (user_id)
LEFT JOIN outd USING (user_id)
LEFT JOIN ind USING (user_id)
"""


BFS_SEEDS = (1, 2, 3, 4, 5)
BFS_CAP = 12


def q_graph_bfs_ecc(spark, sf):
    """networkstatistics.py:76-81 radius/diameter, the honest
    big-graph form: exact BFS eccentricities from a deterministic
    seed sample over the directed mention graph (igraph's radius() /
    diameter() are all-pairs BFS — quadratic work no 10^9-edge graph
    affords; sampled-source eccentricities are the standard bound, and
    the operator underneath, operators/graph.py:multi_source_bfs, IS
    the level-synchronous expansion an exact sweep would repeat). All
    seeds expand in one BFS (seed is a column, not a loop). Output per
    seed: eccentricity within the depth cap + nodes reached; max(ecc)
    lower-bounds the diameter, min over reach-all seeds upper-bounds
    the radius. Girth stays omitted (shortest-cycle needs per-node BFS
    — documented, not pretended)."""
    from .operators.graph import multi_source_bfs

    e = _t(spark, sf, "events")
    dst = 1 + F.pmod(F.col("event_id") * 7, F.lit(149))
    edges = (
        e.select(F.col("user_id").alias("src"), dst.alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    seeds = spark.createDataFrame([(s,) for s in BFS_SEEDS], "seed bigint")
    dist = multi_source_bfs(seeds, edges, BFS_CAP)
    return dist.groupBy("seed").agg(
        F.max("d").alias("eccentricity"),
        F.count("*").alias("n_reached"),
    )


O_GRAPH_BFS_ECC = f"""
WITH RECURSIVE edges AS (
  SELECT DISTINCT user_id AS src, 1 + (event_id * 7) % 149 AS dst
  FROM events WHERE user_id != 1 + (event_id * 7) % 149),
seeds AS (SELECT unnest([{", ".join(str(s) for s in BFS_SEEDS)}]) AS seed),
walk(seed, node, d) AS (
  SELECT seed, seed, 0 FROM seeds
  UNION
  SELECT w.seed, e.dst, w.d + 1
  FROM walk w JOIN edges e ON e.src = w.node WHERE w.d < {BFS_CAP}),
dist AS (SELECT seed, node, min(d) AS d FROM walk GROUP BY 1, 2)
SELECT seed, max(d) AS eccentricity, count(*) AS n_reached
FROM dist GROUP BY seed
"""


PURGE_IDS = (3, 7, 11)


def q_curation_purge(spark, sf):
    """purgeid.py:20-38 del_userid — the GDPR-style cascade: one user
    set removed from EVERY surface, reporting per-surface deleted +
    surviving counts (the reference prints deleted_count per
    collection; the delete itself is an anti-join write in this
    engine's snapshot model, so the counts ARE the operation's audit
    row). Each surface is one scan with a conditional aggregate —
    no per-user loop, no repeated table passes."""
    e = _t(spark, sf, "events")
    d = _t(spark, sf, "documents")
    li = _t(spark, sf, "lineitem")
    ids = list(PURGE_IDS)

    def counts(df, cond, surface):
        return df.agg(
            F.lit(surface).alias("surface"),
            F.sum(F.when(cond, 1).otherwise(0)).alias("n_deleted"),
            F.sum(F.when(cond, 0).otherwise(1)).alias("n_remaining"),
        )

    edges = li.select(
        F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")
    ).dropDuplicates(["src", "dst"])
    members = li.select(
        F.pmod(F.col("l_partkey"), F.lit(120)).alias("list_id"),
        F.col("l_suppkey").alias("user_id"),
    ).dropDuplicates(["list_id", "user_id"])
    out = (
        counts(e, F.col("user_id").isin(ids), "tweets")
        .unionByName(counts(edges, F.col("src").isin(ids), "follow_out"))
        .unionByName(counts(edges, F.col("dst").isin(ids), "follow_in"))
        .unionByName(
            counts(d, F.pmod(F.col("doc_id"), F.lit(150)).isin(ids), "documents")
        )
        .unionByName(counts(members, F.col("user_id").isin(ids), "listmembers"))
    )
    return out


def _o_curation_purge() -> str:
    ids = ", ".join(str(i) for i in PURGE_IDS)
    return f"""
WITH edges AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
members AS (SELECT DISTINCT l_partkey % 120 AS list_id, l_suppkey AS user_id FROM lineitem)
SELECT 'tweets' AS surface,
       cast(sum(CASE WHEN user_id IN ({ids}) THEN 1 ELSE 0 END) AS bigint) AS n_deleted,
       cast(sum(CASE WHEN user_id IN ({ids}) THEN 0 ELSE 1 END) AS bigint) AS n_remaining
FROM events
UNION ALL
SELECT 'follow_out',
       cast(sum(CASE WHEN src IN ({ids}) THEN 1 ELSE 0 END) AS bigint),
       cast(sum(CASE WHEN src IN ({ids}) THEN 0 ELSE 1 END) AS bigint) FROM edges
UNION ALL
SELECT 'follow_in',
       cast(sum(CASE WHEN dst IN ({ids}) THEN 1 ELSE 0 END) AS bigint),
       cast(sum(CASE WHEN dst IN ({ids}) THEN 0 ELSE 1 END) AS bigint) FROM edges
UNION ALL
SELECT 'documents',
       cast(sum(CASE WHEN doc_id % 150 IN ({ids}) THEN 1 ELSE 0 END) AS bigint),
       cast(sum(CASE WHEN doc_id % 150 IN ({ids}) THEN 0 ELSE 1 END) AS bigint) FROM documents
UNION ALL
SELECT 'listmembers',
       cast(sum(CASE WHEN user_id IN ({ids}) THEN 1 ELSE 0 END) AS bigint),
       cast(sum(CASE WHEN user_id IN ({ids}) THEN 0 ELSE 1 END) AS bigint) FROM members
"""


O_CURATION_PURGE = _o_curation_purge()

RT_TARGET = 5  # retweetersbydate runs on one target user


def q_retweeters_by_date(spark, sf):
    """retweetersbydate.py:33-55 — for one target user, the creation
    dates of their distinct retweeters (each retweeter counted once, at
    their own creation date — the reference skips a retweeter's date
    after the first RT seen). Retweets are the UV retweet family
    (event_type='purchase', target = 1+(event_id*13)%149); creation
    date = first activity date, as in user_creation_dates."""
    e = _t(spark, sf, "events")
    rt_dst = 1 + F.pmod(F.col("event_id") * 13, F.lit(149))
    retweeters = (
        e.where((F.col("event_type") == "purchase") & (rt_dst == RT_TARGET))
        .select("user_id")
        .distinct()
    )
    created = e.groupBy("user_id").agg(F.to_date(F.min("ts")).alias("cdate"))
    return (
        retweeters.join(created, "user_id")
        .groupBy(F.col("cdate").cast("string").alias("cdate"))
        .agg(F.count("*").alias("n_retweeters"))
    )


O_RETWEETERS_BY_DATE = f"""
WITH retweeters AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'purchase' AND 1 + (event_id * 13) % 149 = {RT_TARGET}),
created AS (
  SELECT user_id, cast(min(ts) as date) AS cdate FROM events GROUP BY user_id)
SELECT cast(cdate as varchar) AS cdate, count(*) AS n_retweeters
FROM retweeters JOIN created USING (user_id)
GROUP BY cdate
"""


def q_graph_girth_sampled(spark, sf):
    """networkstatistics.py:79-80 girth, sampled-source form: the
    shortest directed cycle THROUGH each seed is min over back-edges
    (u -> seed) of dist(seed, u) + 1, with dist from the same
    multi-source BFS graph_bfs_ecc uses (one BFS for all seeds — the
    per-node sweep igraph hides is quadratic at corpus scale, so the
    sampled bound is the honest big-graph form). min over seeds
    upper-bounds the global girth. Seeds with no cycle emit no row."""
    from .operators.graph import multi_source_bfs

    e = _t(spark, sf, "events")
    dst = 1 + F.pmod(F.col("event_id") * 7, F.lit(149))
    edges = (
        e.select(F.col("user_id").alias("src"), dst.alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    seeds = spark.createDataFrame([(s,) for s in BFS_SEEDS], "seed bigint")
    dist = multi_source_bfs(seeds, edges, BFS_CAP)
    back = edges.select(F.col("src").alias("node"), F.col("dst").alias("back_to"))
    return (
        dist.join(
            back,
            (dist["node"] == back["node"]) & (dist["seed"] == back["back_to"]),
        )
        .groupBy("seed")
        .agg(F.min(F.col("d") + 1).alias("girth_through_seed"))
    )


O_GRAPH_GIRTH = f"""
WITH RECURSIVE edges AS (
  SELECT DISTINCT user_id AS src, 1 + (event_id * 7) % 149 AS dst
  FROM events WHERE user_id != 1 + (event_id * 7) % 149),
seeds AS (SELECT unnest([{", ".join(str(s) for s in BFS_SEEDS)}]) AS seed),
walk(seed, node, d) AS (
  SELECT seed, seed, 0 FROM seeds
  UNION
  SELECT w.seed, e.dst, w.d + 1
  FROM walk w JOIN edges e ON e.src = w.node WHERE w.d < {BFS_CAP}),
dist AS (SELECT seed, node, min(d) AS d FROM walk GROUP BY 1, 2)
SELECT seed, min(d + 1) AS girth_through_seed
FROM dist JOIN edges e ON e.src = dist.node AND e.dst = dist.seed
GROUP BY seed
"""


def q_common_words(spark, sf):
    """common_words.py:31-45 — aggregate per-user word counters into
    corpus-wide counts (the reference sums uservectors'
    most_common_words; here the counters come straight from the docs —
    one explode + one groupBy, stopwords dropped as the vectorizer
    does). Output: (word, total, n_users)."""
    from .training_queries import _STOPWORDS

    d = _t(spark, sf, "documents")
    toks = d.select(
        F.pmod(F.col("doc_id"), F.lit(150)).alias("user_id"),
        F.explode(F.split(F.col("text"), " ")).alias("word"),
    ).where((F.col("word") != "") & ~F.col("word").isin(*_STOPWORDS))
    return toks.groupBy("word").agg(
        F.count("*").alias("total"),
        F.countDistinct("user_id").alias("n_users"),
    )


def _o_common_words() -> str:
    from .training_queries import _STOPWORDS

    return f"""
WITH toks AS (
  SELECT doc_id % 150 AS user_id, unnest(string_split(text, ' ')) AS word
  FROM documents)
SELECT word, count(*) AS total, count(DISTINCT user_id) AS n_users
FROM toks WHERE word != '' AND word NOT IN {repr(_STOPWORDS)}
GROUP BY word
"""


O_COMMON_WORDS = _o_common_words()


def q_find_quoted(spark, sf):
    """findquoted.py:20-45 — regex-extract quote-target status URLs
    from tweet-attached links and roll up the most-quoted users. The
    synthetic link per 'view' event is a twitter status URL derived
    from the event (quoted user u{event_id%150}, status id
    event_id*31%100000); the regex match is the reference's
    quote_pattern applied with regexp_extract. Output per quoted user:
    quote count + distinct quoters."""
    e = _t(spark, sf, "events")
    url = F.concat(
        F.lit("https://twitter.com/u"),
        F.pmod(F.col("event_id"), F.lit(150)).cast("string"),
        F.lit("/status/"),
        F.pmod(F.col("event_id") * 31, F.lit(100000)).cast("string"),
    )
    pat = r"^https://twitter.com/([^/]*)/status/([0-9]*)$"
    links = e.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("quoter"),
        F.regexp_extract(url, pat, 1).alias("quoted_user"),
        F.regexp_extract(url, pat, 2).alias("quoted_id"),
    ).where(F.col("quoted_user") != "")
    return links.groupBy("quoted_user").agg(
        F.count("*").alias("n_quotes"),
        F.countDistinct("quoter").alias("n_quoters"),
    )


O_FIND_QUOTED = """
WITH links AS (
  SELECT user_id AS quoter,
         regexp_extract('https://twitter.com/u' || cast(event_id % 150 as varchar)
                        || '/status/' || cast(event_id * 31 % 100000 as varchar),
                        '^https://twitter.com/([^/]*)/status/([0-9]*)$', 1) AS quoted_user
  FROM events WHERE event_type = 'view')
SELECT quoted_user, count(*) AS n_quotes, count(DISTINCT quoter) AS n_quoters
FROM links WHERE quoted_user != ''
GROUP BY quoted_user
"""


def q_count_unique_users(spark, sf):
    """count-unique-users.py — samples-per-user histogram over the
    versioned users surface (the mongo $group by id): how many user
    ids have k userinfo samples. One groupBy(id) + one groupBy(k)."""
    v = _user_versions(spark, sf)
    per_id = v.groupBy("id").agg(F.count(F.lit(1)).alias("n_samples"))
    return per_id.groupBy("n_samples").agg(F.count("*").alias("n_users"))


O_COUNT_UNIQUE_USERS = f"""
WITH v AS ({_SQL_USER_VERSIONS}),
per_id AS (SELECT id, count(*) AS n_samples FROM v GROUP BY id)
SELECT n_samples, count(*) AS n_users FROM per_id GROUP BY n_samples
"""


def q_list_followers_export(spark, sf):
    """listfollowers.py / listmembers.py export family representative:
    per list, member count + follower-count rollups over the members'
    in-degree on the follow graph. Members and degrees aggregate
    BEFORE the join (the export never walks members per list)."""
    members = _listmembers(spark, sf)
    li = _t(spark, sf, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")
    ).dropDuplicates(["src", "dst"])
    ind = edges.groupBy(F.col("dst").alias("user_id")).agg(
        F.count("*").alias("n_followers")
    )
    m = members.join(ind, "user_id", "left").select(
        "list_id", F.coalesce("n_followers", F.lit(0)).alias("nf")
    )
    return m.groupBy("list_id").agg(
        F.count("*").alias("n_members"),
        F.sum("nf").alias("total_followers"),
        F.max("nf").alias("max_followers"),
    )


O_LIST_FOLLOWERS = f"""
WITH members AS ({_SQL_LISTMEMBERS}),
edges AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
ind AS (SELECT dst AS user_id, count(*) AS n_followers FROM edges GROUP BY dst)
SELECT list_id, count(*) AS n_members,
       cast(sum(coalesce(n_followers, 0)) as bigint) AS total_followers,
       cast(max(coalesce(n_followers, 0)) as bigint) AS max_followers
FROM members LEFT JOIN ind USING (user_id)
GROUP BY list_id
"""


def q_fix_truncated(spark, sf):
    """fixtruncated.py:25-60 — repair truncated tweets from the full
    store and mark the unrecoverable ones deleted (the reference's
    statuses_lookup batch refetch; codes 144/34 -> deleted). Fixture:
    every 3rd doc arrives truncated (first half + '…'); the full store
    is missing every 9th doc, so those repairs miss. The repair is ONE
    left join on doc_id — never a per-tweet refetch loop; output per
    truncated doc: repaired/deleted flags + recovered length."""
    d = _t(spark, sf, "documents")
    truncated = d.where(F.pmod(F.col("doc_id"), F.lit(3)) == 0).select(
        "doc_id",
        F.concat(
            F.substring(F.col("text"), 1, F.floor(F.col("n_chars") / 2).cast("int")),
            F.lit("…"),
        ).alias("text_trunc"),
    )
    full_store = d.where(F.pmod(F.col("doc_id"), F.lit(9)) != 0).select(
        "doc_id", F.col("text").alias("text_full")
    )
    out = truncated.join(full_store, "doc_id", "left")
    return out.select(
        "doc_id",
        F.col("text_full").isNotNull().alias("repaired"),
        F.col("text_full").isNull().alias("deleted"),
        F.coalesce(
            F.length("text_full"), F.length("text_trunc")
        ).alias("final_len"),
    )


O_FIX_TRUNCATED = """
WITH truncated AS (
  SELECT doc_id,
         substring(text, 1, cast(n_chars // 2 as int)) || '…' AS text_trunc
  FROM documents WHERE doc_id % 3 = 0),
full_store AS (
  SELECT doc_id, text AS text_full FROM documents WHERE doc_id % 9 != 0)
SELECT t.doc_id,
       f.text_full IS NOT NULL AS repaired,
       f.text_full IS NULL AS deleted,
       coalesce(length(f.text_full), length(t.text_trunc)) AS final_len
FROM truncated t LEFT JOIN full_store f USING (doc_id)
"""


def q_check_media(spark, sf):
    """checkimages.py:15-33 — media integrity sweep: per-payload
    ok/missing/corrupt audit with the REAL BMP parser run tolerantly
    (operators/multimodal.py:audit_media). Fixture: every 11th doc's
    payload is missing (NULL), every 7th (not also 11th) is truncated
    mid-pixel-array — the decoder must classify all three states.
    Output: per-status counts + byte totals."""
    from .operators.multimodal import attach_bmp_media, audit_media

    d = _t(spark, sf, "documents")
    media = attach_bmp_media(d, "doc_id")
    ref_id = F.col("media_ref").cast("long")
    staged = media.select(
        "media_ref",
        F.when(F.pmod(ref_id, F.lit(11)) == 0, F.lit(None).cast("binary"))
        .when(
            F.pmod(ref_id, F.lit(7)) == 0,
            F.expr("substring(payload, 1, 40)"),
        )
        .otherwise(F.col("payload"))
        .alias("payload"),
    )
    return audit_media(staged).groupBy("status").agg(
        F.count("*").alias("n"),
        F.sum("n_bytes").alias("total_bytes"),
    )


O_CHECK_MEDIA = """
WITH base AS (
  SELECT doc_id,
         54 + ((3 * (5 + doc_id % 16) + 3) // 4 * 4) * (4 + doc_id % 8) AS full_bytes
  FROM documents),
staged AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN 'missing'
              WHEN doc_id % 7 = 0 THEN 'corrupt'
              ELSE 'ok' END AS status,
         CASE WHEN doc_id % 11 = 0 THEN 0
              WHEN doc_id % 7 = 0 THEN least(40, full_bytes)
              ELSE full_bytes END AS n_bytes
  FROM base)
SELECT status, count(*) AS n, cast(sum(n_bytes) as bigint) AS total_bytes
FROM staged GROUP BY status
"""


GREEK_CLASS_RATIO = 0.21  # long-word share: splits the 150 authors ~64/86


def q_set_follower_candidates(spark, sf):
    """findgreekfollowers.py:20-37 — the tracked-set expansion query:
    followers of in-set users who are NOT themselves in the set, ranked
    by how many in-set users they follow (the crawler's next-to-track
    candidates). Set membership is CONTENT-derived like the reference's
    greek classification (script share of the user's text): authors
    whose share of long-word tokens >= 0.21 (the corpus has no digit/
    script variation, so word length is the discriminative class —
    64/150 authors qualify at sf0.01). The set rides a broadcast into
    both the semi join (followers of) and the anti join (not in set) —
    the big edge table never shuffles."""
    d = _t(spark, sf, "documents")
    li = _t(spark, sf, "lineitem")
    toks = F.split(F.col("text"), " ")
    longs = F.size(F.filter(toks, lambda w: F.length(w) >= 6))
    tracked = (
        d.select(
            F.pmod(F.col("doc_id"), F.lit(150)).alias("uid"),
            longs.alias("dg"),
            F.size(toks).alias("tt"),
        )
        .groupBy("uid")
        .agg((F.sum("dg") / F.sum("tt")).alias("ratio"))
        .where(F.col("ratio") >= GREEK_CLASS_RATIO)
        .select("uid")
    )
    edges = li.select(
        F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")
    ).dropDuplicates(["src", "dst"])
    cand = (
        edges.join(
            F.broadcast(tracked.withColumnRenamed("uid", "dst")), "dst", "semi"
        )
        .join(F.broadcast(tracked.withColumnRenamed("uid", "src")), "src", "anti")
    )
    return cand.groupBy(F.col("src").alias("follower_id")).agg(
        F.count("*").alias("n_tracked_followed")
    )


O_SET_FOLLOWER_CANDIDATES = f"""
WITH tracked AS (
  SELECT uid FROM (
    SELECT doc_id % 150 AS uid,
           sum(len(list_filter(string_split(text, ' '), w -> len(w) >= 6))) * 1.0
             / sum(len(string_split(text, ' '))) AS ratio
    FROM documents GROUP BY 1)
  WHERE ratio >= {GREEK_CLASS_RATIO}),
edges AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem)
SELECT src AS follower_id, count(*) AS n_tracked_followed
FROM edges
WHERE dst IN (SELECT uid FROM tracked)
  AND src NOT IN (SELECT uid FROM tracked)
GROUP BY src
"""


# =====================================================================
# Deleted-tweet audit + repair sweep (deletedtweets.py / retrydeletedtweets.py)
# =====================================================================

def q_deleted_tweets_audit(spark, sf):
    """deletedtweets.py:46-60 (-s scan: probe store tweets against the
    live service, newly-missing ones get marked deleted) together with
    retrydeletedtweets.py:22-38 (re-crawl tweets marked deleted; ones
    that still exist were misidentified and get un-marked). Both
    reference loops are per-tweet batch refetches; here the probe is
    ONE left join of the store against the live set, and the two sweeps
    fall out of the same joined row: confirmed (marked & gone), newly
    deleted (unmarked & gone — the -s discovery), misidentified
    (marked & alive — the retry repair plan). Fixture: store marks
    event_id % 17 == 0 deleted; the live service is missing
    event_id % 13 == 0. Output: per-user audit counts — the repair
    sweep's work list sizes.

    Scale shape: the live probe joins on the tweet id (both sides
    partitioned by event_id, no broadcast needed at 100 TB — it's a
    co-keyed equi-join), then one hash agg by user."""
    e = _t(spark, sf, "events")
    store = e.select(
        "event_id",
        "user_id",
        (F.pmod(F.col("event_id"), F.lit(17)) == 0).alias("marked_deleted"),
    )
    live = (
        e.where(F.pmod(F.col("event_id"), F.lit(13)) != 0)
        .select("event_id", F.lit(True).alias("alive"))
    )
    j = store.join(live, "event_id", "left")
    gone = F.col("alive").isNull()
    marked = F.col("marked_deleted")
    return j.groupBy("user_id").agg(
        F.count("*").alias("n_tweets"),
        F.sum(marked.cast("long")).alias("n_marked"),
        F.sum((marked & gone).cast("long")).alias("n_confirmed_deleted"),
        F.sum((~marked & gone).cast("long")).alias("n_newly_deleted"),
        F.sum((marked & ~gone).cast("long")).alias("n_misidentified"),
    )


O_DELETED_TWEETS_AUDIT = """
WITH store AS (
  SELECT event_id, user_id, event_id % 17 = 0 AS marked FROM events),
live AS (
  SELECT event_id, true AS alive FROM events WHERE event_id % 13 != 0),
j AS (SELECT s.user_id, s.marked, l.alive IS NULL AS gone
      FROM store s LEFT JOIN live l USING (event_id))
SELECT user_id, count(*) AS n_tweets,
       cast(sum(CASE WHEN marked THEN 1 ELSE 0 END) AS bigint) AS n_marked,
       cast(sum(CASE WHEN marked AND gone THEN 1 ELSE 0 END) AS bigint) AS n_confirmed_deleted,
       cast(sum(CASE WHEN NOT marked AND gone THEN 1 ELSE 0 END) AS bigint) AS n_newly_deleted,
       cast(sum(CASE WHEN marked AND NOT gone THEN 1 ELSE 0 END) AS bigint) AS n_misidentified
FROM j GROUP BY user_id
"""


# =====================================================================
# Mentioned-id user recovery (mentionedid.py)
# =====================================================================

def q_mentionedid_recovery(spark, sf):
    """mentionedid.py:27-28 + utils.look_for_mentioned_id (twkit/
    utils.py:140-168): reconstruct user rows for ids absent from the
    users collection by mining mention entities out of crawled tweets —
    the recovery path for deleted/suspended accounts. Entity-derived
    rows, distinct from j7_unknown_endpoints (which fills crawl
    frontier gaps, not user records). Mention entities: the
    deterministic mention graph (mentioned = 1 + (event_id*7) % 149,
    screen_name = 'u' || id — the entity embeds the handle, as the
    reference's user_mentions elements do). Known users = customer ids
    that are ≡ 0 (mod 3) — the rest are the deleted/suspended holes.
    Output per recovered id: handle, evidence volume and span.

    Scale shape: mentions aggregate by mentioned id FIRST (hash agg
    with map-side combine), then one broadcast anti-join against the
    known-user dim — the big fact never shuffles twice."""
    e = _t(spark, sf, "events")
    c = _t(spark, sf, "customer")
    mentions = e.select(
        (1 + F.pmod(F.col("event_id") * 7, F.lit(149))).alias("mentioned_id"),
        "ts",
    )
    per_id = mentions.groupBy("mentioned_id").agg(
        F.count("*").alias("n_mentions"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
    )
    known = c.where(F.pmod(F.col("c_custkey"), F.lit(3)) == 0).select(
        F.col("c_custkey").alias("mentioned_id")
    )
    recovered = per_id.join(F.broadcast(known), "mentioned_id", "anti")
    return recovered.select(
        F.col("mentioned_id").alias("user_id"),
        F.concat(F.lit("u"), F.col("mentioned_id")).alias("screen_name"),
        "n_mentions",
        "first_seen",
        "last_seen",
    )


O_MENTIONEDID_RECOVERY = """
WITH mentions AS (
  SELECT 1 + (event_id * 7) % 149 AS mentioned_id, ts FROM events),
per_id AS (
  SELECT mentioned_id, count(*) AS n_mentions,
         min(ts) AS first_seen, max(ts) AS last_seen
  FROM mentions GROUP BY mentioned_id),
known AS (SELECT c_custkey AS mentioned_id FROM customer WHERE c_custkey % 3 = 0)
SELECT mentioned_id AS user_id,
       'u' || cast(mentioned_id AS varchar) AS screen_name,
       n_mentions, first_seen, last_seen
FROM per_id
WHERE mentioned_id NOT IN (SELECT mentioned_id FROM known)
"""


# =====================================================================
# is-greek composition ratios (twkit/curation/is-greek.py)
# =====================================================================

def q_is_greek_ratios(spark, sf):
    """is-greek.py:35-75 — per-user percentage of followers, friends,
    and followers|friends classified as in-set ('Greek'). The full
    decorated-edge statistics already live in q_user_follower_stats
    (same fixture graph + membership dim); this is the CLI's projection
    of that table: the three composition percentages plus the user's
    own flag, restricted to users that have any relation at all (the
    CLI prints per requested user; empty rows are noise)."""
    base = q_user_follower_stats(spark, sf)
    return base.where(
        (F.col("seen_fr") > 0) | (F.col("seen_fo") > 0)
    ).select(
        "user_id",
        "greek",
        F.col("gr_fr_pcnt").alias("pct_friends_greek"),
        F.col("gr_fo_pcnt").alias("pct_followers_greek"),
        F.col("gr_fr_fo_pcnt").alias("pct_either_greek"),
    )


O_IS_GREEK_RATIOS = f"""
SELECT user_id, greek,
       gr_fr_pcnt AS pct_friends_greek,
       gr_fo_pcnt AS pct_followers_greek,
       gr_fr_fo_pcnt AS pct_either_greek
FROM ({O_USER_FOLLOWER_STATS}) t
WHERE seen_fr > 0 OR seen_fo > 0
"""


# =====================================================================
# --common intersection across list* CLIs (listfavs/listfaved/
# listfriends/listquoters/listretweeters)
# =====================================================================

def q_list_common_favoriters(spark, sf):
    """listfavs.py -c/-t (and the identical --common mode shared by
    listfaved/listfriends/listquoters/listretweeters): counterparties
    common to ALL requested users — the reference intersects per-user
    Counter dicts in driver memory; here the intersection is one hash
    agg with a HAVING on distinct requested-author count (no per-user
    set materialization, no driver loop). Requested set: authors
    ≡ 3 (mod 29) over the S8 favorites fixture (same derivation as
    q_user_favoriter_stats). Output per common favoriter: total favs
    across the requested set and the heaviest single author edge —
    the -t 'tweets faved by common' head."""
    li = _t(spark, sf, "lineitem")
    favs = (
        li.select(
            F.pmod(F.col("l_orderkey"), F.lit(200)).alias("faver"),
            (F.col("l_partkey") * 100000 + F.col("l_suppkey")).alias("tweet_id"),
        )
        .dropDuplicates(["faver", "tweet_id"])
        .withColumn("author", F.pmod(F.col("tweet_id"), F.lit(FAV_AUTHOR_MOD)))
    )
    req = favs.where(F.pmod(F.col("author"), F.lit(29)) == 3)
    n_req = req.agg(F.countDistinct("author").alias("__n_req"))
    per_pair = req.groupBy("faver", "author").agg(F.count("*").alias("n"))
    return (
        per_pair.groupBy("faver")
        .agg(
            F.countDistinct("author").alias("n_authors"),
            F.sum("n").alias("n_favs"),
            F.max("n").alias("max_per_author"),
        )
        .crossJoin(F.broadcast(n_req))
        .where(F.col("n_authors") == F.col("__n_req"))
        .select("faver", "n_favs", "max_per_author")
    )


O_LIST_COMMON_FAVORITERS = f"""
WITH favs AS (
  SELECT DISTINCT l_orderkey % 200 AS faver,
         l_partkey * 100000 + l_suppkey AS tweet_id
  FROM lineitem),
f2 AS (SELECT faver, tweet_id, tweet_id % {FAV_AUTHOR_MOD} AS author FROM favs),
req AS (SELECT * FROM f2 WHERE author % 29 = 3),
n_req AS (SELECT count(DISTINCT author) AS n FROM req),
per_pair AS (SELECT faver, author, count(*) AS n FROM req GROUP BY 1, 2)
SELECT faver,
       cast(sum(n) AS bigint) AS n_favs,
       cast(max(n) AS bigint) AS max_per_author
FROM per_pair
GROUP BY faver
HAVING count(DISTINCT author) = (SELECT n FROM n_req)
"""


# --------------------------------------- frontier PageRank crawl ordering

PR_DAMPING = 0.85
PR_ITERS = 3


def q_frontier_pagerank(spark, sf):
    """Link-based crawl prioritization: PageRank (Page et al. 1998 —
    the classic web-crawl ordering heuristic, cf. OPIC/breadth-first
    ordering studies) over the deterministic mention graph shared with
    graph_stats, PR_ITERS fixed power iterations from the uniform
    vector with proper dangling-mass redistribution. Extends the
    scheduler's per-host expected/late priorities (freq.py:103,133)
    with a global link-structure signal.

    100 TB shape: each iteration is one (src)-keyed join of the rank
    vector onto the edge list + one (dst)-keyed aggregation — the rank
    vector is O(|nodes|) and only IT moves; the edge list can stay
    bucketed by src so the join is storage-partitioned. The dangling
    mass is a 1-row aggregate broadcast into the update. Fixed
    iteration count keeps the whole computation ONE Catalyst plan (no
    driver-side convergence loop; convergence-checked variants would
    reuse dedup_clusters' 1-row-signature pattern)."""
    e = _t(spark, sf, "events")
    edges = (
        e.select(
            F.col("user_id").alias("src"),
            (1 + F.pmod(F.col("event_id") * 7, F.lit(149))).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    outd = edges.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    ranks = nodes.crossJoin(nn).select(
        "id", (F.lit(1.0) / F.col("n")).alias("rank")
    )
    d = PR_DAMPING
    for _ in range(PR_ITERS):
        withod = ranks.join(outd, ranks["id"] == outd["src"], "left").select(
            ranks["id"].alias("id"), "rank", "od"
        )
        dang = withod.where(F.col("od").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass")
        )
        contribs = (
            edges.join(
                withod.where(F.col("od").isNotNull()),
                edges["src"] == F.col("id"),
            )
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("od")).alias("cin"))
        )
        ranks = (
            nodes.join(contribs, nodes["id"] == contribs["dst"], "left")
            .crossJoin(dang)
            .crossJoin(nn)
            .select(
                "id",
                (
                    F.lit(1 - d) / F.col("n")
                    + F.lit(d)
                    * (F.coalesce("cin", F.lit(0.0)) + F.col("dmass") / F.col("n"))
                ).alias("rank"),
            )
        )
    return ranks.select("id", F.round("rank", 6).alias("pr"))


def _o_frontier_pagerank() -> str:
    d = PR_DAMPING
    its = []
    for i in range(PR_ITERS):
        its.append(f"""
d{i} AS (
  SELECT coalesce(sum(rank), 0) AS dmass
  FROM r{i} LEFT JOIN outd ON r{i}.id = outd.src WHERE od IS NULL),
c{i} AS (
  SELECT e.dst, sum(r.rank / o.od) AS cin
  FROM edges e JOIN r{i} r ON e.src = r.id JOIN outd o ON e.src = o.src
  GROUP BY e.dst),
r{i + 1} AS (
  SELECT nodes.id,
         {1 - d} / n + {d} * (coalesce(cin, 0) + dmass / n) AS rank
  FROM nodes CROSS JOIN nn CROSS JOIN d{i}
  LEFT JOIN c{i} ON nodes.id = c{i}.dst)""")
    return f"""
WITH edges AS (
  SELECT DISTINCT user_id AS src, 1 + (event_id * 7) % 149 AS dst
  FROM events WHERE user_id <> 1 + (event_id * 7) % 149),
nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
outd AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
r0 AS (SELECT id, 1.0 / n AS rank FROM nodes CROSS JOIN nn),
{",".join(its)}
SELECT id, round(rank, 6) AS pr FROM r{PR_ITERS}
"""


O_FRONTIER_PAGERANK = _o_frontier_pagerank()


HITS_ITERS = 2


def q_graph_hits(spark, sf):
    """HITS hubs/authorities (Kleinberg 1999) over the same mention
    graph as frontier_pagerank — the other classic link-analysis
    crawl-ordering signal: authorities are seed-quality targets, high
    hub scores flag directory/link-farm pages a trap-aware frontier
    deprioritizes. HITS_ITERS mutual-reinforcement iterations from the
    uniform vector, L1-normalized after every half-step (the scale
    factor is a 1-row aggregate broadcast, so normalization costs no
    second pass over the graph).

    100 TB shape: identical to PageRank's — per half-step one
    (src|dst)-keyed join of the O(|nodes|) score vector onto the edge
    list + one aggregation; the edge list never moves and can stay
    bucketed. Fixed iteration count keeps it one Catalyst plan."""
    e = _t(spark, sf, "events")
    edges = (
        e.select(
            F.col("user_id").alias("src"),
            (1 + F.pmod(F.col("event_id") * 7, F.lit(149))).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    auth = nodes.crossJoin(nn).select("id", (F.lit(1.0) / F.col("n")).alias("a"))
    hub = None
    for _ in range(HITS_ITERS):
        hraw = (
            edges.join(auth, edges["dst"] == auth["id"])
            .groupBy("src")
            .agg(F.sum("a").alias("x"))
        )
        hs = hraw.agg(F.sum("x").alias("s"))
        hub = (
            nodes.join(hraw, nodes["id"] == hraw["src"], "left")
            .crossJoin(hs)
            .select("id", (F.coalesce("x", F.lit(0.0)) / F.col("s")).alias("h"))
        )
        araw = (
            edges.join(hub, edges["src"] == hub["id"])
            .groupBy("dst")
            .agg(F.sum("h").alias("x"))
        )
        as_ = araw.agg(F.sum("x").alias("s"))
        auth = (
            nodes.join(araw, nodes["id"] == araw["dst"], "left")
            .crossJoin(as_)
            .select("id", (F.coalesce("x", F.lit(0.0)) / F.col("s")).alias("a"))
        )
    return (
        nodes.join(hub, "id")
        .join(auth, "id")
        .select("id", F.round("h", 6).alias("hub"), F.round("a", 6).alias("auth"))
    )


def _o_graph_hits() -> str:
    its = []
    for i in range(HITS_ITERS):
        its.append(f"""
hraw{i} AS (
  SELECT e.src AS id, sum(a.a) AS x FROM edges e JOIN a{i} a ON e.dst = a.id
  GROUP BY e.src),
hs{i} AS (SELECT sum(x) AS s FROM hraw{i}),
h{i + 1} AS (
  SELECT nodes.id, coalesce(x, 0) / s AS h
  FROM nodes CROSS JOIN hs{i} LEFT JOIN hraw{i} ON nodes.id = hraw{i}.id),
araw{i} AS (
  SELECT e.dst AS id, sum(h.h) AS x FROM edges e JOIN h{i + 1} h ON e.src = h.id
  GROUP BY e.dst),
as{i} AS (SELECT sum(x) AS s FROM araw{i}),
a{i + 1} AS (
  SELECT nodes.id, coalesce(x, 0) / s AS a
  FROM nodes CROSS JOIN as{i} LEFT JOIN araw{i} ON nodes.id = araw{i}.id)""")
    return f"""
WITH edges AS (
  SELECT DISTINCT user_id AS src, 1 + (event_id * 7) % 149 AS dst
  FROM events WHERE user_id <> 1 + (event_id * 7) % 149),
nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
a0 AS (SELECT id, 1.0 / n AS a FROM nodes CROSS JOIN nn),
{",".join(its)}
SELECT nodes.id, round(h{HITS_ITERS}.h, 6) AS hub, round(a{HITS_ITERS}.a, 6) AS auth
FROM nodes JOIN h{HITS_ITERS} ON nodes.id = h{HITS_ITERS}.id
JOIN a{HITS_ITERS} ON nodes.id = a{HITS_ITERS}.id
"""


O_GRAPH_HITS = _o_graph_hits()


# =====================================================================
# Freshness-driven adaptive recrawl scheduling (Cho & Garcia-Molina)
# =====================================================================

RECRAWL_K = 5  # per-host revisit budget per round
RECRAWL_CHANGED = ("purchase", "signup", "error")  # mutation event types
RECRAWL_NOW = 1706745600  # = entry_queries.CRAWL_NOW


def q_recrawl_schedule(spark, sf):
    """Freshness-driven adaptive recrawl scheduling (Cho &
    Garcia-Molina, 'Effective Page Refresh Policies for Web Crawlers',
    ACM TODS 28(4), 2003 — public): each crawlable unit's fetch
    history (its events rows; 'changed' = mutation event types) fits a
    Poisson change model with the continuity-corrected estimator
    lambda = -ln((n - X + 0.5) / (n + 0.5)) / mean_interval, and the
    revisit priority is the EXPECTED STALENESS 1 - exp(-lambda * age).
    The round schedules the RECRAWL_K stalest units per host
    (politeness budget), ranked on the 7-dp-rounded priority with a
    deterministic user_id tie-break.

    100 TB shape: ONE map-side-combinable groupBy(user) over the raw
    history (count / conditional count / min / max — the mean interval
    is span/(n-1), so no lag window ever touches the history), then
    the J5 budgeted-take window over the tiny per-unit summary. At
    10^10 frontier scale this staleness column feeds
    build_two_phase_plan's budget rank as its ordering key;
    here the plain per-host window IS the claim.

    Reference parity: twAwler re-crawls on fixed staleness TTLs
    (lastscan gates, addfriends.py:20-48; the crawl loop's frequency
    score freq.py:103-133) — this replaces the fixed TTL with the
    change-rate estimator the refresh literature recommends, keeping
    the same scheduling surface."""
    e = _t(spark, sf, "events")
    hist = (
        e.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("event_type").isin(*RECRAWL_CHANGED), 1).otherwise(0)
            ).alias("x"),
            F.unix_timestamp(F.min("ts")).alias("first_e"),
            F.unix_timestamp(F.max("ts")).alias("last_e"),
        )
        .where(F.col("n") >= 2)
    )
    dt = F.greatest(
        (F.col("last_e") - F.col("first_e")) / (F.col("n") - 1.0), F.lit(1.0)
    )
    lam = -F.log((F.col("n") - F.col("x") + 0.5) / (F.col("n") + 0.5)) / dt
    age = F.lit(RECRAWL_NOW) - F.col("last_e")
    pr = hist.select(
        F.concat(F.lit("h"), (F.col("user_id") % 20).cast("string")).alias(
            "host"
        ),
        "user_id",
        F.col("n").alias("n_visits"),
        F.col("x").alias("n_changed"),
        lam.alias("lam"),
        (F.lit(1.0) - F.exp(-lam * age)).alias("st"),
    )
    w = W.partitionBy("host").orderBy(
        F.round(F.col("st"), 7).desc(), F.col("user_id").asc()
    )
    return (
        pr.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= RECRAWL_K)
        .select(
            "host",
            "user_id",
            "n_visits",
            "n_changed",
            F.round(F.col("lam") * 86400, 6).alias("lambda_per_day"),
            F.round(F.col("st"), 6).alias("staleness"),
            "rnk",
        )
    )


O_RECRAWL_SCHEDULE = f"""
WITH h AS (
  SELECT user_id, count(*) AS n,
         cast(sum(CASE WHEN event_type IN ('purchase', 'signup', 'error')
                       THEN 1 ELSE 0 END) as bigint) AS x,
         cast(floor(epoch(min(ts))) as bigint) AS first_e,
         cast(floor(epoch(max(ts))) as bigint) AS last_e
  FROM events GROUP BY user_id HAVING count(*) >= 2),
p AS (
  SELECT 'h' || cast(user_id % 20 as varchar) AS host, user_id, n, x,
         -ln((n - x + 0.5) / (n + 0.5))
           / greatest((last_e - first_e) / (n - 1.0), 1.0) AS lam,
         ({RECRAWL_NOW} - last_e) AS age
  FROM h),
r AS (
  SELECT host, user_id, n, x, lam, 1.0 - exp(-lam * age) AS st,
         row_number() OVER (
           PARTITION BY host
           ORDER BY round(1.0 - exp(-lam * age), 7) DESC, user_id ASC
         ) AS rnk
  FROM p)
SELECT host, user_id, n AS n_visits, x AS n_changed,
       round(lam * 86400, 6) AS lambda_per_day,
       round(st, 6) AS staleness, rnk
FROM r WHERE rnk <= {RECRAWL_K}
"""


# =====================================================================
# Sampled harmonic / closeness centrality over the mention graph
# =====================================================================

def q_graph_harmonic(spark, sf):
    """Sampled harmonic + closeness centrality (Boldi & Vigna, 'Axioms
    for Centrality', Internet Mathematics 2014 — harmonic centrality
    H(u) = Σ 1/d(u,v) is THE distance centrality that stays
    well-defined on disconnected graphs, which web/mention graphs
    always are; closeness is reported alongside in the Wasserman-Faust
    reach-normalized form). Exact all-pairs is quadratic; the standard
    big-graph practice is exact BFS from a deterministic seed sample —
    the SAME one-BFS-all-seeds expansion graph_bfs_ecc already uses
    (operators/graph.py:multi_source_bfs — seed is a column, so K
    seeds cost one BFS, not K).

    100 TB shape: identical to graph_bfs_ecc — edges hash-partitioned
    on src once and persisted, level-synchronous frontier joins,
    anti-join first-visit claims, per-level localCheckpoint; the
    centrality itself is one groupBy(seed) over the distance table.

    Reference parity: networkstatistics.py:66-85 computes whole-graph
    igraph metrics (closeness among them) on the exported edge list;
    this is that analytics surface at a scale igraph cannot load."""
    from .operators.graph import multi_source_bfs

    e = _t(spark, sf, "events")
    dst = 1 + F.pmod(F.col("event_id") * 7, F.lit(149))
    edges = (
        e.select(F.col("user_id").alias("src"), dst.alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    seeds = spark.createDataFrame([(s,) for s in BFS_SEEDS], "seed bigint")
    dist = multi_source_bfs(seeds, edges, BFS_CAP)
    reached = dist.where(F.col("d") > 0)
    return reached.groupBy("seed").agg(
        F.count("*").alias("n_reached"),
        F.round(F.sum(1.0 / F.col("d")), 4).alias("harmonic"),
        F.round(F.count("*") / F.sum("d"), 6).alias("closeness"),
    )


O_GRAPH_HARMONIC = f"""
WITH RECURSIVE edges AS (
  SELECT DISTINCT user_id AS src, 1 + (event_id * 7) % 149 AS dst
  FROM events WHERE user_id != 1 + (event_id * 7) % 149),
seeds AS (SELECT unnest([{", ".join(str(s) for s in BFS_SEEDS)}]) AS seed),
walk(seed, node, d) AS (
  SELECT seed, seed, 0 FROM seeds
  UNION
  SELECT w.seed, e.dst, w.d + 1
  FROM walk w JOIN edges e ON e.src = w.node WHERE w.d < {BFS_CAP}),
dist AS (SELECT seed, node, min(d) AS d FROM walk GROUP BY 1, 2),
reached AS (SELECT seed, d FROM dist WHERE d > 0)
SELECT seed, count(*) AS n_reached,
       round(sum(1.0 / d), 4) AS harmonic,
       round(count(*) * 1.0 / sum(d), 6) AS closeness
FROM reached GROUP BY seed
"""


BURST_Z = 1.5
BURST_WIN = 7
BURST_MIN_HIST = 5


def q_word_bursts(spark, sf):
    """Burst detection over the tracked-word daily series (the
    trend-ACCELERATION view on top of s9's trend snapshot — Kleinberg
    burst detection in its z-score form): a (word, day) bursts when its
    count exceeds the trailing BURST_WIN-day baseline by >= BURST_Z
    standard deviations, with at least BURST_MIN_HIST days of history.

    Cross-engine float parity by construction: the window aggregates
    are INTEGER sums (count, sum n, sum n^2); mean/variance derive from
    them with the identical double expressions on both engines, so the
    z filter can never disagree at the boundary (the same trick as
    recrawl_schedule's rounded-rank tie-break, applied to variance).
    The 0.5 std floor keeps flat-history words finite. Scale shape:
    one window per word partition over the zero-filled series — the
    series itself is one scan + hash agg (q_word_daily_series)."""
    series = q_word_daily_series(spark, sf)
    win = (
        W.partitionBy("word")
        .orderBy(F.col("day").asc())
        .rowsBetween(-BURST_WIN, -1)
    )
    w = series.select(
        "word",
        "day",
        "n_docs",
        F.count(F.lit(1)).over(win).alias("c"),
        F.sum("n_docs").over(win).alias("s1"),
        F.sum(F.col("n_docs") * F.col("n_docs")).over(win).alias("s2"),
    ).where(F.col("c") >= BURST_MIN_HIST)
    mean = F.col("s1") * 1.0 / F.col("c")
    sd = F.sqrt(
        F.greatest(F.col("s2") * 1.0 / F.col("c") - mean * mean, F.lit(0.0))
    )
    z = (F.col("n_docs") - mean) / F.greatest(sd, F.lit(0.5))
    return w.where(z >= BURST_Z).select(
        "word",
        "day",
        "n_docs",
        F.round(mean, 4).alias("baseline_mean"),
        F.round(z, 4).alias("z"),
    )


O_WORD_BURSTS = f"""
WITH series AS ({O_WORD_DAILY_SERIES}),
w AS (
  SELECT word, day, n_docs,
         count(*) OVER win AS c,
         sum(n_docs) OVER win AS s1,
         sum(n_docs * n_docs) OVER win AS s2
  FROM series
  WINDOW win AS (PARTITION BY word ORDER BY day ASC
                 ROWS BETWEEN {BURST_WIN} PRECEDING AND 1 PRECEDING)),
z AS (
  SELECT word, day, n_docs,
         s1 * 1.0 / c AS mean,
         sqrt(greatest(s2 * 1.0 / c - (s1 * 1.0 / c) * (s1 * 1.0 / c), 0)) AS sd
  FROM w WHERE c >= {BURST_MIN_HIST})
SELECT word, day, n_docs, round(mean, 4) AS baseline_mean,
       round((n_docs - mean) / greatest(sd, 0.5), 4) AS z
FROM z WHERE (n_docs - mean) / greatest(sd, 0.5) >= {BURST_Z}
"""


# =====================================================================
# Bulk-lookup repopulation batches (twkit/curation/repopulate.py)
# =====================================================================

# the reference packs 100 ids per statuses_lookup call
# (repopulate.py:69-75, add100 :17-50); the fixture uses 25 so the
# sf0.01 degraded set spans several batches per shard and the packing
# boundary (a short final batch) is actually exercised
REPOP_BATCH = 25
REPOP_SHARDS = 4


def q_repopulate_batches(spark, sf):
    """repopulate.py:54-76 — find degraded store records (retweet
    shells fetched without their entities: retweeted_status.id > 0,
    user_mentions None, not marked deleted) and pack their ids into
    bulk-lookup API batches (add100 :17-50, statuses_lookup takes at
    most 100 ids per call). The reference walks one Mongo cursor and
    flushes a driver-side list every 100 ids; here the batch plan is
    computed distributed: degraded ids shard by id-mod (each shard is
    one API worker's stream, the fetcher_assignment model), a
    per-shard row_number packs consecutive ids into ceil(n/BATCH)
    batches, and the output is the per-batch call plan (id span +
    size) the fetch fleet would execute. Fixture: degraded = event_id
    ≡ 1 (mod 3) [retweet shell] AND ≡ 0 (mod 7) [entities missing]
    AND ≢ 0 (mod 17) [not deleted — the deleted_tweets_audit mark].

    Scale shape: the only exchange is the per-shard window, and shard
    cardinality tracks the fetch fleet size, so partitions stay
    bounded (frontier/|fleet|) no matter the corpus size — there is
    never a global row_number."""
    e = _t(spark, sf, "events")
    degraded = e.where(
        (F.pmod(F.col("event_id"), F.lit(3)) == 1)
        & (F.pmod(F.col("event_id"), F.lit(7)) == 0)
        & (F.pmod(F.col("event_id"), F.lit(17)) != 0)
    ).select("event_id")
    w = W.partitionBy("shard").orderBy("event_id")
    packed = (
        degraded.withColumn(
            "shard", F.pmod(F.col("event_id"), F.lit(REPOP_SHARDS))
        )
        .withColumn("seq", F.row_number().over(w))
        .withColumn("batch_no", F.floor((F.col("seq") - 1) / REPOP_BATCH))
    )
    return packed.groupBy("shard", "batch_no").agg(
        F.count("*").alias("n_ids"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


O_REPOPULATE_BATCHES = f"""
WITH degraded AS (
  SELECT event_id FROM events
  WHERE event_id % 3 = 1 AND event_id % 7 = 0 AND event_id % 17 != 0),
packed AS (
  SELECT event_id, event_id % {REPOP_SHARDS} AS shard,
         row_number() OVER (
           PARTITION BY event_id % {REPOP_SHARDS} ORDER BY event_id) AS seq
  FROM degraded)
SELECT shard, cast(floor((seq - 1) / {REPOP_BATCH}.0) AS bigint) AS batch_no,
       count(*) AS n_ids, min(event_id) AS min_id, max(event_id) AS max_id
FROM packed GROUP BY 1, 2
"""


# =====================================================================
# Point lookup (twkit/curation/cattweet.py)
# =====================================================================

# the CLI takes literal tweet ids on argv (cattweet.py:26-31)
CATTWEET_IDS = (42, 176, 303, 924)


def q_cattweet_lookup(spark, sf):
    """cattweet.py:29-31 — fetch full store documents for a literal id
    list and print them. As a plan this is the point-lookup tier of
    the store: an IN-list predicate that must reach the parquet scan
    as a pushed filter (min/max row-group pruning — at 100 TB the scan
    touches only the row groups whose [min,max] id range covers a
    requested id, and with id-sorted/bucketed storage that is O(|ids|)
    row groups), zero shuffles, the nested JSON props field surfaced
    the way the CLI dumps the raw document."""
    e = _t(spark, sf, "events")
    return e.where(F.col("event_id").isin(*CATTWEET_IDS)).select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
    )


O_CATTWEET_LOOKUP = f"""
SELECT event_id, ts, user_id, event_type, value,
       cast(json_extract_string(props, '$.k') AS bigint) AS k
FROM events WHERE event_id IN {CATTWEET_IDS}
"""
