"""Driver-contract queries for the crawl round itself (SURVEY §7 step 4).

The engine's reason to exist — score → robots gate → per-host budget
rank → fetch → state MERGE — runs here as three driver queries over a
frontier derived deterministically from the driver's ``events`` table,
each with a full DuckDB oracle. The Spark side calls the REAL engine
code (``build_two_phase_plan``, ``fetch_documents``, ``fetch_results``,
``merge_fetch_results``); the oracle re-derives the same answer in pure
SQL, including the deterministic fetch synthesis.

The fetch synthesis is keyed by splitmix64 streams (hashing.py), which
DuckDB lacks — so the oracle builder below EXPANDS splitmix64 into SQL:
128-bit HUGEINT arithmetic mod 2^64, with the 64×64 multiplies split
hi/lo to stay inside INT128, and single-element ``list_transform``
lambdas as let-bindings so the expression stays linear in size.
Parity with hashing.stream64 is property-tested in tests/test_hashing.py.

Reference parity: the round pipeline rebuilds crawl-tweets.sh:37-160
(score freq.py:103,133; budget rank dumpall.py:106-111; checkpoint
advance dumpall.py:83-87; backfill paging load-past.py:69-77; state
transitions utils.py:351-446).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import docspec
from .entry_queries import CRAWL_NOW, _epoch, _t
from .plans.fetcher import fetch_documents, fetch_results
from .plans.round import build_two_phase_plan, merge_fetch_results

N_HOSTS = 20
ROUND_NO = 1

# ------------------------------------------------------------------ SQL
# splitmix64 / stream64 (hashing.py) expanded to DuckDB expressions.

_M64 = "18446744073709551616::HUGEINT"  # 2^64
_GAMMA = 0x9E3779B97F4A7C15
_SM_M1 = 0xBF58476D1CE4E5B9
_SM_M2 = 0x94D049BB133111EB

_let_ctr = [0]


def _let(expr: str, body) -> str:
    """Bind ``expr`` to a fresh lambda variable (evaluated once) —
    DuckDB has no scalar CTEs inside expressions, but a single-element
    ``list_transform`` is exactly a let-binding."""
    _let_ctr[0] += 1
    v = f"__v{_let_ctr[0]}"
    return f"list_transform([({expr})], {v} -> ({body(v)}))[1]"


def _mulmod(a: str, b: int) -> str:
    """(a * b) mod 2^64 without INT128 overflow: split the constant
    multiplicand into 32-bit halves."""
    b_hi, b_lo = b >> 32, b & 0xFFFFFFFF
    return (
        f"((((({a}) * {b_hi}::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT"
        f" + ({a}) * {b_lo}::HUGEINT) % {_M64})"
    )


def _smx(z: str) -> str:
    """One splitmix64 finalization step (hashing.py:splitmix64)."""
    return _let(
        f"((({z}) + {_GAMMA}::HUGEINT) % {_M64})",
        lambda a: _let(
            _mulmod(f"xor({a}, {a} >> 30)", _SM_M1),
            lambda b: _let(
                _mulmod(f"xor({b}, {b} >> 27)", _SM_M2),
                lambda c: f"xor({c}, {c} >> 31)",
            ),
        ),
    )


def _stream(key: str, stream: int, index: str = "0") -> str:
    """hashing.stream64(key, stream, index) as a DuckDB expression.
    ``key`` must be a HUGEINT expression in [0, 2^64); ``index`` a small
    non-negative integer expression."""
    s = (stream * _SM_M1) % (1 << 64)
    inner = _smx(f"xor(({key})::HUGEINT, {s}::HUGEINT)")
    if index == "0":
        return _smx(inner)
    im = _mulmod(f"({index})::HUGEINT", _SM_M2)
    return _smx(_let(inner, lambda i: f"xor({i}, {im})"))


_VOCAB_SQL = "[" + ", ".join(f"'{w}'" for w in docspec.VOCAB) + "]"

# ---------------------------------------------------------------- fixture
# Frontier synthesized from events: one URL per user_id, 20 hosts.
# url_hash is the cross-engine-portable md5-prefix hash (60-bit,
# positive) rather than xxhash64, so the oracle can derive it in SQL.


def _crawl_fixture(
    spark: SparkSession, sf: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(frontier, budgets, robots) derived from the events table."""
    e = _t(spark, sf, "events")
    agg = e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max("ts").alias("latest_ts"),
        _epoch(F.max("ts")).alias("latest_e"),
        _epoch(F.min("ts")).alias("earliest_e"),
    )
    rate = F.col("n_events") * 3600.0 / F.greatest(
        F.col("latest_e") - F.col("earliest_e"), F.lit(3600)
    )
    uid = F.col("user_id")
    frontier = agg.select(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("u:"), uid.cast("string"))), 1, 15),
            16,
            10,
        )
        .cast("long")
        .alias("url_hash"),
        F.concat(F.lit("h"), F.pmod(uid, F.lit(N_HOSTS)).cast("string")).alias("host"),
        F.concat(F.lit("/u/"), uid.cast("string")).alias("path"),
        F.lit("active").alias("state"),
        F.lit(0).alias("state_round"),
        (uid * 10).cast("long").alias("last_id"),
        # nullable backfill checkpoint — a NULL first_id must ride the plan intact
        F.when(F.pmod(uid, F.lit(7)) != 0, uid.cast("long")).alias("first_id"),
        (F.pmod(uid, F.lit(3)) == 0).alias("reached"),
        F.col("latest_ts"),
        rate.alias("rate_tph"),
    )
    hosts = spark.range(N_HOSTS).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"),
        F.col("id").alias("hn"),
    )
    budgets = hosts.select(
        "host", (2 + F.pmod(F.col("hn"), F.lit(4))).cast("int").alias("budget_per_round")
    )
    deny1 = hosts.where(F.col("hn") % 5 == 0).select(
        "host", F.lit("deny").alias("rule"), F.lit("/u/1").alias("path_prefix")
    )
    deny2 = hosts.where(F.col("hn") % 10 == 0).select(
        "host", F.lit("deny").alias("rule"), F.lit("/u/3").alias("path_prefix")
    )
    allow = hosts.where(F.col("hn") % 4 == 0).select(
        "host", F.lit("allow").alias("rule"), F.lit("/").alias("path_prefix")
    )
    robots = deny1.unionByName(deny2).unionByName(allow)
    return frontier, budgets, robots


def _plan(spark: SparkSession, sf: str) -> tuple[DataFrame, DataFrame]:
    frontier, budgets, robots = _crawl_fixture(spark, sf)
    plan = build_two_phase_plan(frontier, robots, budgets, CRAWL_NOW)
    return frontier, plan


# shared oracle CTE chain: frontier fixture -> robots gate -> two-phase
# budget rank (the engine's per-partition top-K cut keeps a superset of
# every host's top rows, so the uncut SQL ranking is the same function
# of the snapshot)
_SQL_PLAN_BASE = f"""
agg AS (
  SELECT user_id, count(*) AS n_events,
         cast(floor(epoch(max(ts))) as bigint) AS latest_e,
         cast(floor(epoch(min(ts))) as bigint) AS earliest_e
  FROM events GROUP BY user_id),
f AS (
  SELECT user_id,
         ('0x' || substr(md5('u:' || cast(user_id as varchar)), 1, 15))::BIGINT AS url_hash,
         user_id % {N_HOSTS} AS hn,
         'h' || cast(user_id % {N_HOSTS} as varchar) AS host,
         '/u/' || cast(user_id as varchar) AS path,
         cast(user_id * 10 as bigint) AS last_id0,
         CASE WHEN user_id % 7 <> 0 THEN cast(user_id as bigint) END AS first_id0,
         (user_id % 3 = 0) AS reached0,
         latest_e,
         n_events * 3600.0 / greatest(latest_e - earliest_e, 3600) AS rate_tph
  FROM agg),
sc AS (
  SELECT *, greatest(({CRAWL_NOW} - latest_e) / 3600.0, 0.0) AS hours_idle FROM f),
sc2 AS (SELECT *, rate_tph * hours_idle AS expected FROM sc),
gated AS (
  SELECT * FROM sc2
  WHERE NOT ((hn % 5 = 0 AND path LIKE '/u/1%')
          OR (hn % 10 = 0 AND path LIKE '/u/3%'))),
wb AS (
  SELECT *, 2 + hn % 4 AS b, greatest((2 + hn % 4) // 2, 1) AS b2 FROM gated),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY host ORDER BY expected DESC, url_hash ASC) AS rank_e
  FROM wb),
late AS (
  SELECT *, row_number() OVER (
      PARTITION BY host ORDER BY hours_idle DESC, url_hash ASC) AS rank_h
  FROM ranked WHERE rank_e > b),
plan AS (
  SELECT url_hash, host, last_id0, first_id0, reached0, expected, hours_idle,
         rank_e AS fetch_rank, 'expected' AS phase
  FROM ranked WHERE rank_e <= b
  UNION ALL
  SELECT url_hash, host, last_id0, first_id0, reached0, expected, hours_idle,
         rank_h, 'late'
  FROM late WHERE rank_h <= b2)
"""


# ------------------------------------------------- query 1: the plan


def q_crawl_round_plan(spark: SparkSession, sf: str) -> DataFrame:
    """S1/S5/O1/J5/P5: one scheduling round's fetch plan — score
    (freq.py:103,133), robots gate, two-phase per-host budget
    rank (dumpall.py:106-111 + --crawl-late), keyed by host name."""
    _, plan = _plan(spark, sf)
    return plan.select(
        "url_hash",
        "host",
        "fetch_rank",
        "phase",
        "last_id",
        "first_id",
        "reached",
        F.round("expected", 4).alias("expected_r"),
        F.round("hours_idle", 4).alias("hours_idle_r"),
    )


O_CRAWL_ROUND_PLAN = f"""
WITH {_SQL_PLAN_BASE}
SELECT url_hash, host, fetch_rank, phase,
       last_id0 AS last_id, first_id0 AS first_id, reached0 AS reached,
       round(expected, 4) AS expected_r, round(hours_idle, 4) AS hours_idle_r
FROM plan
"""


# ------------------------------------------------- query 2: the documents


def q_crawl_round_docs(spark: SparkSession, sf: str) -> DataFrame:
    """S1/S2/S10/S12: fetched interleaved span documents after one round
    (dumpall.py:23-92 timeline paging), doc-level — verifies per-row
    span-sequence equality (kind, text, media_ref, order) inside the
    driver gate, not just pytest."""
    _, plan = _plan(spark, sf)
    docs = fetch_documents(plan, ROUND_NO).dropDuplicates(["doc_id"])
    spans = F.col("spans")
    return docs.select(
        "doc_id",
        "url_hash",
        "host",
        "fetch_rank",
        F.size(spans).alias("n_spans"),
        F.concat_ws(",", F.transform(spans, lambda s: s["kind"])).alias("span_kinds"),
        F.concat_ws(
            ",", F.transform(spans, lambda s: s["offset"].cast("string"))
        ).alias("offsets"),
        F.concat_ws(
            " | ",
            F.transform(
                F.filter(spans, lambda s: s["kind"] == "text"), lambda s: s["text"]
            ),
        ).alias("text_all"),
        F.concat_ws(
            ",",
            F.transform(
                F.filter(spans, lambda s: s["kind"] == "media"),
                lambda s: s["media_ref"],
            ),
        ).alias("media_all"),
    )


def _build_o_docs() -> str:
    kind = lambda: f"({_stream('d', docspec._S_KIND, 'k')}) % 3"  # noqa: E731
    word = (
        f"({_VOCAB_SQL})[(1 + ({_stream('d', docspec._S_WORD, 'k*16+t')}) % 32)::BIGINT]"
    )
    nwords = f"(1 + ({_stream('d', docspec._S_NWORDS, 'k')}) % 6)::BIGINT"
    media = (
        f"printf('m%012x', (({_stream('d', docspec._S_MEDIA, 'k')})"
        f" % 281474976710656::HUGEINT)::BIGINT)"
    )
    return f"""
WITH {_SQL_PLAN_BASE},
st AS (
  SELECT url_hash, host, fetch_rank, (url_hash)::HUGEINT AS u FROM plan),
st2 AS (
  SELECT *, ({_stream('u', docspec._S_STATUS)}) % 100 AS r100 FROM st),
ok AS (
  SELECT *, (1 + ({_stream('u', docspec._S_NDOCS)}) % 4)::BIGINT AS nd
  FROM st2 WHERE r100 < 88),
dj AS (
  SELECT url_hash, host, fetch_rank, u, unnest(range(0, nd)) AS j FROM ok),
dk AS (
  SELECT url_hash, host, fetch_rank,
         ({_stream('u', docspec._S_DOCKEY, '256 + j')}) AS d
  FROM dj),
dd AS (
  SELECT *, (1 + ({_stream('d', docspec._S_NSPANS)}) % 8)::BIGINT AS nsp FROM dk)
SELECT
  printf('d%08x%08x', (d >> 32)::BIGINT, (d % 4294967296::HUGEINT)::BIGINT) AS doc_id,
  url_hash, host, fetch_rank,
  nsp AS n_spans,
  array_to_string(list_transform(range(0, nsp),
    k -> CASE WHEN {kind()} < 2 THEN 'text' ELSE 'media' END), ',') AS span_kinds,
  array_to_string(range(0, nsp), ',') AS offsets,
  coalesce(array_to_string(list_transform(
    list_filter(range(0, nsp), k -> {kind()} < 2),
    k -> array_to_string(list_transform(range(0, {nwords}), t -> {word}), ' ')),
    ' | '), '') AS text_all,
  coalesce(array_to_string(list_transform(
    list_filter(range(0, nsp), k -> {kind()} >= 2),
    k -> {media}), ','), '') AS media_all
FROM dd
"""


O_CRAWL_ROUND_DOCS = _build_o_docs()


# ------------------------------------------------- query 3: the state MERGE


def q_crawl_round_states(spark: SparkSession, sf: str) -> DataFrame:
    """U4/S2: frontier state after one round's MERGE — status-driven
    transitions (utils.py:351-446), forward checkpoint advance
    (dumpall.py:83-87), backfill paging + reached floor
    (load-past.py:69-77), latest_ts touch. Aggregated per state."""
    frontier, plan = _plan(spark, sf)
    results = fetch_results(plan)
    merged = merge_fetch_results(frontier, results, ROUND_NO, CRAWL_NOW)
    return merged.groupBy("state").agg(
        F.count("*").alias("n_urls"),
        F.sum("last_id").alias("sum_last_id"),
        F.sum("first_id").alias("sum_first_id"),
        F.sum(F.col("reached").cast("int")).alias("n_reached"),
        F.sum("state_round").alias("sum_state_round"),
        F.sum(_epoch(F.col("latest_ts"))).alias("sum_latest_e"),
    )


def _build_o_states() -> str:
    return f"""
WITH {_SQL_PLAN_BASE},
st AS (
  SELECT url_hash, last_id0, first_id0, reached0, (url_hash)::HUGEINT AS u
  FROM plan),
st2 AS (
  SELECT *, ({_stream('u', docspec._S_STATUS)}) % 100 AS r100 FROM st),
res AS (
  SELECT url_hash, last_id0, first_id0, reached0,
         CASE WHEN r100 < 88 THEN 200 WHEN r100 < 92 THEN 404
              WHEN r100 < 96 THEN 429 ELSE 403 END AS status,
         CASE WHEN r100 < 88
              THEN (1 + ({_stream('u', docspec._S_NDOCS)}) % 4)::BIGINT
              ELSE 0 END AS nd
  FROM st2),
res2 AS (
  SELECT url_hash, status,
         coalesce(last_id0, 0) + nd AS new_last_id,
         CASE WHEN status = 200 AND NOT reached0
              THEN greatest(coalesce(first_id0, 0) - {docspec.BACKFILL_STEP}, 0)
              ELSE coalesce(first_id0, 0) END AS new_first_id,
         CASE WHEN status = 200 AND NOT reached0
              THEN greatest(coalesce(first_id0, 0) - {docspec.BACKFILL_STEP}, 0) = 0
              ELSE reached0 END AS new_reached
  FROM res),
mrg AS (
  SELECT fr.url_hash,
         CASE WHEN r.status = 404 THEN 'dead'
              WHEN r.status = 403 THEN 'protected'
              WHEN r.status = 429 THEN 'suspended'
              ELSE 'active' END AS state,
         CASE WHEN r.status IS NOT NULL AND r.status <> 200
              THEN 1 ELSE 0 END AS state_round,
         coalesce(r.new_last_id, fr.last_id0) AS last_id,
         coalesce(r.new_first_id, fr.first_id0) AS first_id,
         coalesce(r.new_reached, fr.reached0) AS reached,
         CASE WHEN r.status = 200 THEN {CRAWL_NOW} ELSE fr.latest_e END AS latest_e
  FROM f fr LEFT JOIN res2 r USING (url_hash))
SELECT state, count(*) AS n_urls,
       cast(sum(last_id) as bigint) AS sum_last_id,
       cast(sum(first_id) as bigint) AS sum_first_id,
       cast(sum(CASE WHEN reached THEN 1 ELSE 0 END) as bigint) AS n_reached,
       cast(sum(state_round) as bigint) AS sum_state_round,
       cast(sum(latest_e) as bigint) AS sum_latest_e
FROM mrg GROUP BY state
"""


O_CRAWL_ROUND_STATES = _build_o_states()


# ------------------------------------------- query 4: outlink discovery


def q_crawl_round_outlinks(spark: SparkSession, sf: str) -> DataFrame:
    """S5/S12/P5: outlink discovery + within-round dedup + admission —
    the discover→admit half of run_round (addfollowers.py follow-edge
    expansion + can_follow, utils.py:672-692). Discovered links come
    from the engine's ``discover_outlinks`` (Arrow stage over the
    plan-bounded results table); the seen set is the deterministic
    outlink universe of even-user frontier rows, so a real fraction of
    discoveries is already-seen. Admission joins on the canonical URL
    string (run_round keys the same set by xxhash64(url); the string
    key is the SQL-portable equivalent). Output: per target host,
    discovered vs admitted counts and the oid range."""
    from .operators.admission import admit
    from .plans.fetcher import discover_outlinks

    frontier, plan = _plan(spark, sf)
    results = fetch_results(plan)
    links = discover_outlinks(results, N_HOSTS)
    cands = links.select("url").dropDuplicates(["url"])
    seen = discover_outlinks(
        frontier.where(F.pmod(F.col("url_hash"), F.lit(2)) == 0).select(
            "url_hash", F.lit(200).alias("status")
        ),
        N_HOSTS,
    ).select("url").dropDuplicates(["url"])
    admitted = admit(cands, seen, bloom=None, key_col="url")
    host = F.regexp_extract(F.col("url"), r"^https://([^/]+)/", 1)
    oid = F.regexp_extract(F.col("url"), r"/o/([0-9]+)", 1).cast("long")
    disc = cands.groupBy(host.alias("host")).agg(
        F.count(F.lit(1)).alias("n_discovered"),
        F.min(oid).alias("min_oid"),
        F.max(oid).alias("max_oid"),
    )
    adm = admitted.groupBy(host.alias("host")).agg(
        F.count(F.lit(1)).alias("n_admitted")
    )
    return disc.join(adm, "host", "left").select(
        "host",
        "n_discovered",
        F.coalesce("n_admitted", F.lit(0)).alias("n_admitted"),
        "min_oid",
        "max_oid",
    )


def _build_o_outlinks() -> str:
    n_out = f"({_stream('u', docspec._S_NOUT)}) % 4"
    th = f"(({_stream('u', docspec._S_OUTHOST, 'j')}) % {N_HOSTS})::BIGINT"
    oid = f"(({_stream('u', docspec._S_OUTID, 'j')}) % 281474976710656::HUGEINT)::BIGINT"
    link = (
        f"'https://h' || cast({th} as varchar) || '.example.com/o/' || "
        f"cast({oid} as varchar)"
    )
    return f"""
WITH {_SQL_PLAN_BASE},
st AS (SELECT url_hash, (url_hash)::HUGEINT AS u FROM plan),
st2 AS (SELECT *, ({_stream('u', docspec._S_STATUS)}) % 100 AS r100 FROM st),
ok AS (SELECT u, ({n_out})::BIGINT AS nout FROM st2 WHERE r100 < 88),
lj AS (SELECT u, unnest(range(0, nout)) AS j FROM ok),
cands AS (SELECT DISTINCT {link} AS url FROM lj),
sf0 AS (
  SELECT (url_hash)::HUGEINT AS u FROM f
  WHERE url_hash % 2 = 0
    AND ({_stream("(url_hash)::HUGEINT", docspec._S_STATUS)}) % 100 < 88),
sok AS (SELECT u, ({n_out})::BIGINT AS nout FROM sf0),
slj AS (SELECT u, unnest(range(0, nout)) AS j FROM sok),
seen AS (SELECT DISTINCT {link} AS url FROM slj),
adm AS (SELECT url FROM cands WHERE url NOT IN (SELECT url FROM seen)),
hosts AS (
  SELECT regexp_extract(url, 'https://([^/]+)/', 1) AS host,
         cast(regexp_extract(url, '/o/([0-9]+)', 1) as bigint) AS oid,
         url IN (SELECT url FROM adm) AS is_adm
  FROM cands)
SELECT host, count(*) AS n_discovered,
       cast(sum(CASE WHEN is_adm THEN 1 ELSE 0 END) as bigint) AS n_admitted,
       min(oid) AS min_oid, max(oid) AS max_oid
FROM hosts GROUP BY host
"""


O_CRAWL_ROUND_OUTLINKS = _build_o_outlinks()


# ------------------------- query 5: multimodal packing of the round's docs

MEDIA_TOKENS = 16  # fixed patch-token cost per media span (ViT-style)
PACK_SEQ_LEN = 128


def q_crawl_round_pack(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal sequence packing of ONE round's interleaved span
    documents (the north-rule payload): per-doc token cost = words per
    text span + a fixed MEDIA_TOKENS patch cost per media span, docs
    concatenated per host in doc_id order and cut into PACK_SEQ_LEN
    training sequences — sequences/boundary-straddling/padding audited
    per host (the interleaved twin of q_sequence_packing).

    Scale shape: the per-(host, round) group is BOUNDED BY THE
    POLITENESS BUDGET (<= (b+b2) plan rows x <= MAX_DOCS_PER_FETCH
    docs), so the within-host cumsum window is constant-size per task
    at ANY frontier scale — no two-phase prefix sum needed (contrast
    q_sequence_packing, where a source is unbounded). Span costs are
    one HOF fold in the scan stage; no explode, no Python.
    """
    _, plan = _plan(spark, sf)
    docs = fetch_documents(plan, ROUND_NO).dropDuplicates(["doc_id"])
    spans = F.col("spans")
    cost = F.aggregate(
        spans,
        F.lit(0),
        lambda acc, s: acc
        + F.when(
            s["kind"] == "text", F.size(F.split(s["text"], " "))
        ).otherwise(F.lit(MEDIA_TOKENS)),
    )
    media_cost = F.size(F.filter(spans, lambda s: s["kind"] == "media")) * F.lit(
        MEDIA_TOKENS
    )
    scored = docs.select(
        "host", "doc_id", cost.alias("nt"), media_cost.alias("mt")
    )
    from pyspark.sql import Window as W

    wd = (
        W.partitionBy("host")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    placed = scored.withColumn("off", F.sum("nt").over(wd) - F.col("nt"))
    seq0 = F.floor(F.col("off") / F.lit(PACK_SEQ_LEN))
    seq1 = F.floor((F.col("off") + F.col("nt") - 1) / F.lit(PACK_SEQ_LEN))
    return placed.groupBy("host").agg(
        F.count("*").alias("n_docs"),
        F.sum("nt").alias("total_tokens"),
        F.sum("mt").alias("media_tokens"),
        F.ceil(F.sum("nt") / F.lit(float(PACK_SEQ_LEN))).alias("n_sequences"),
        F.sum(F.when(seq1 > seq0, 1).otherwise(0)).alias("n_boundary_docs"),
        (
            F.ceil(F.sum("nt") / F.lit(float(PACK_SEQ_LEN))) * PACK_SEQ_LEN
            - F.sum("nt")
        ).alias("pad_tokens"),
    )


def _build_o_pack() -> str:
    kind = lambda: f"({_stream('d', docspec._S_KIND, 'k')}) % 3"  # noqa: E731
    nwords = f"(1 + ({_stream('d', docspec._S_NWORDS, 'k')}) % 6)::BIGINT"
    return f"""
WITH {_SQL_PLAN_BASE},
st AS (SELECT url_hash, host, (url_hash)::HUGEINT AS u FROM plan),
st2 AS (SELECT *, ({_stream('u', docspec._S_STATUS)}) % 100 AS r100 FROM st),
ok AS (
  SELECT *, (1 + ({_stream('u', docspec._S_NDOCS)}) % 4)::BIGINT AS nd
  FROM st2 WHERE r100 < 88),
dj AS (SELECT host, u, unnest(range(0, nd)) AS j FROM ok),
dk AS (SELECT host, ({_stream('u', docspec._S_DOCKEY, '256 + j')}) AS d FROM dj),
dd AS (SELECT *, (1 + ({_stream('d', docspec._S_NSPANS)}) % 8)::BIGINT AS nsp FROM dk),
costed AS (
  SELECT host,
         printf('d%08x%08x', (d >> 32)::BIGINT,
                (d % 4294967296::HUGEINT)::BIGINT) AS doc_id,
         cast(list_sum(list_transform(range(0, nsp),
           k -> CASE WHEN {kind()} < 2 THEN {nwords}
                     ELSE {MEDIA_TOKENS} END)) as bigint) AS nt,
         cast({MEDIA_TOKENS} * len(list_filter(range(0, nsp),
           k -> {kind()} >= 2)) as bigint) AS mt
  FROM dd),
placed AS (
  SELECT *, sum(nt) OVER (PARTITION BY host ORDER BY doc_id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - nt AS off
  FROM costed)
SELECT host, count(*) AS n_docs,
       cast(sum(nt) as bigint) AS total_tokens,
       cast(sum(mt) as bigint) AS media_tokens,
       cast(ceil(sum(nt) / {PACK_SEQ_LEN}.0) as bigint) AS n_sequences,
       cast(sum(CASE WHEN (off + nt - 1) // {PACK_SEQ_LEN} > off // {PACK_SEQ_LEN}
                     THEN 1 ELSE 0 END) as bigint) AS n_boundary_docs,
       cast(cast(ceil(sum(nt) / {PACK_SEQ_LEN}.0) as bigint) * {PACK_SEQ_LEN}
            - sum(nt) as bigint) AS pad_tokens
FROM placed GROUP BY host
"""


O_CRAWL_ROUND_PACK = _build_o_pack()


# --------------------------------------- query 6: crawl -> training corpus

CORPUS_MIN_TOKS = 4   # quality gate: min text tokens per doc
CORPUS_MIN_SPANS = 2  # quality gate: min spans per doc
CORPUS_SEQ_LEN = 64   # packing length for the corpus budget row


def q_crawl_to_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """The full composition the engine exists for — one round's fetched
    interleaved documents pushed through the curation pipeline in a
    single plan: quality gate (min text tokens + min spans, Gopher-rule
    shape) → GLOBAL exact text dedup (min-doc_id survivor per text, the
    S12/X9 protocol at corpus level) → per-host token + sequence budget
    (the packing ledger a training run reads). Emits the per-host
    funnel: fetched → quality → kept → tokens → sequences.

    100 TB shape: the gate is a scan-stage column expression; the dedup
    is one hash groupBy on the text key + a broadcast-size marker join
    back; the ledger is one map-side-combinable groupBy(host). The
    fetched docs never shuffle twice on the same key. Reference parity:
    crawl-tweets.sh round output consumed by the curation sweeps
    (twkit/curation/*), here fused into the round itself."""
    _, plan = _plan(spark, sf)
    docs = fetch_documents(plan, ROUND_NO).dropDuplicates(["doc_id"])
    spans = F.col("spans")
    flat = docs.select(
        "doc_id",
        "host",
        F.size(spans).alias("n_spans"),
        F.concat_ws(
            " | ",
            F.transform(
                F.filter(spans, lambda s: s["kind"] == "text"), lambda s: s["text"]
            ),
        ).alias("text_all"),
    )
    toks = F.filter(
        F.split(F.col("text_all"), " "), lambda t: (t != "|") & (t != "")
    )
    q = flat.select(
        "doc_id",
        "host",
        "text_all",
        F.size(toks).alias("n_toks"),
        F.when(
            (F.size(toks) >= CORPUS_MIN_TOKS) & (F.col("n_spans") >= CORPUS_MIN_SPANS),
            1,
        )
        .otherwise(0)
        .alias("ok"),
    )
    keep = (
        q.where(F.col("ok") == 1)
        .groupBy("text_all")
        .agg(F.min("doc_id").alias("doc_id"))
        .withColumn("__k", F.lit(1))
    )
    m = q.join(keep, ["text_all", "doc_id"], "left").withColumn(
        "kept", F.when(F.col("__k").isNotNull(), 1).otherwise(0)
    )
    kept_toks = F.when(F.col("kept") == 1, F.col("n_toks")).otherwise(0)
    return m.groupBy("host").agg(
        F.count("*").alias("n_fetched"),
        F.sum("ok").cast("long").alias("n_quality"),
        F.sum("kept").cast("long").alias("n_kept"),
        F.sum(kept_toks).cast("long").alias("n_tokens"),
        F.floor(F.sum(kept_toks) / CORPUS_SEQ_LEN).cast("long").alias("n_sequences"),
    )


O_CRAWL_TO_CORPUS = f"""
WITH docs AS ({O_CRAWL_ROUND_DOCS}),
t AS (
  SELECT doc_id, host, n_spans,
         len(list_filter(string_split(text_all, ' '),
             x -> x != '|' AND x != '')) AS n_toks,
         text_all
  FROM docs),
q AS (
  SELECT *, CASE WHEN n_toks >= {CORPUS_MIN_TOKS}
                  AND n_spans >= {CORPUS_MIN_SPANS} THEN 1 ELSE 0 END AS ok
  FROM t),
k AS (SELECT text_all, min(doc_id) AS doc_id FROM q WHERE ok = 1 GROUP BY text_all),
m AS (
  SELECT q.*, CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS kept
  FROM q LEFT JOIN k ON q.text_all = k.text_all AND q.doc_id = k.doc_id)
SELECT host,
       count(*) AS n_fetched,
       cast(sum(ok) as bigint) AS n_quality,
       cast(sum(kept) as bigint) AS n_kept,
       cast(sum(CASE WHEN kept = 1 THEN n_toks ELSE 0 END) as bigint) AS n_tokens,
       cast(floor(sum(CASE WHEN kept = 1 THEN n_toks ELSE 0 END)
                  / {CORPUS_SEQ_LEN}.0) as bigint) AS n_sequences
FROM m GROUP BY host
"""


# --------------------------------------- query 7: hop-bounded BFS depth

BFS_MOD = 20011
BFS_MAX_DEPTH = 4
BFS_SEEDS = (0, 5000, 10000, 15000, 20000)


def q_crawl_bfs_depth(spark: SparkSession, sf: str) -> DataFrame:
    """Hop-limited frontier expansion: min hop distance from the seed
    set over a link graph, the depth-gating primitive of a focused
    crawl (the reference bounds expansion by tracked-set membership,
    addfollowers.py one-hop; a web crawler bounds it by hop count).
    Distributed BFS: per level, one join frontier⋈edges on src + one
    anti-join against the settled set; the frontier SHRINKS as
    distances settle, so rounds get cheaper — same O(log/hop shuffle
    rounds) family as the large/small-star connected components
    (operators/graph.py), but directed, seeded, and depth-bounded.

    100 TB shape: edges shuffle-partition by src once and stay put;
    each level's frontier is tiny relative to the graph and broadcasts;
    the settled set grows but the anti-join keys on node. Lineage is
    cut per level with a lazy localCheckpoint exactly like the CC
    operator. Graph: deterministic 60k-edge projection of lineitem
    onto a 20011-node id space; seeds are 5 fixed ids."""
    from .operators.graph import bfs_min_depth_bitmap

    li = _t(spark, sf, "lineitem")
    # no edge dedup: min-depth BFS is invariant under duplicate edges
    # (the bitmap OR absorbs them), duplicates are <1% of this
    # projection anyway. The node universe is BFS_MOD by construction
    # (both endpoints are pmod BFS_MOD), so the bitmap BFS applies: one
    # src exchange emitting per-src dst masks, all levels vectorized —
    # no per-level join/dedup/anti-join/checkpoint rounds
    edges = li.select(
        F.pmod(F.col("l_orderkey").cast("long"), F.lit(BFS_MOD)).alias("src"),
        F.pmod(
            F.col("l_partkey").cast("long") * 31 + F.col("l_suppkey").cast("long"),
            F.lit(BFS_MOD),
        ).alias("dst"),
    )
    dist = bfs_min_depth_bitmap(list(BFS_SEEDS), edges, BFS_MAX_DEPTH, BFS_MOD)
    return dist.groupBy("depth").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("node").cast("long").alias("sum_node"),
    )


O_CRAWL_BFS_DEPTH = f"""
WITH RECURSIVE e AS (
  SELECT DISTINCT l_orderkey % {BFS_MOD} AS src,
         (l_partkey * 31 + l_suppkey) % {BFS_MOD} AS dst
  FROM lineitem),
bfs(node, depth) AS (
  SELECT unnest({list(BFS_SEEDS)})::BIGINT AS node, 0 AS depth
  UNION ALL
  SELECT e.dst, b.depth + 1 FROM bfs b JOIN e ON e.src = b.node
  WHERE b.depth < {BFS_MAX_DEPTH}),
md AS (SELECT node, min(depth) AS depth FROM bfs GROUP BY node)
SELECT depth, count(*) AS n_nodes, cast(sum(node) as bigint) AS sum_node
FROM md GROUP BY depth
"""


# ------------------------------------ query 8: DUST URL-rule mining

DUST_PARAMS = ("page", "sid", "ref")


def _dust_stream(prefix: str, col, mod: int):
    """Independent deterministic stream from a key column via the
    md5-prefix trick (same portable-hash pattern as _crawl_fixture's
    url_hash): 60-bit positive value mod ``mod``."""
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(prefix + ":"), col.cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long"),
        F.lit(mod),
    )


def q_dust_rules(spark: SparkSession, sf: str) -> DataFrame:
    """DUST rule mining ("Different URLs with Similar Text",
    Bar-Yossef et al. WWW'07): from a crawl log of (url, content
    fingerprint) rows, decide per URL parameter whether it is
    content-IRRELEVANT (safe to strip before the seen-set probe, which
    shrinks the 10^10 frontier) or content-BEARING. For each candidate
    param k: canonicalize every url with k stripped (path + sorted
    residual params), group by that key, and count groups that
    collapsed >=2 urls (support) vs collapsed groups holding >1
    distinct fingerprint (counterexamples). A rule is emitted only
    with support > 0 and zero counterexamples. NO pair join — one
    groupBy per candidate param, map-side-combinable, vs the naive
    all-pairs-within-duplicate-cluster formulation.

    Fixture: a deterministic crawl log over documents' doc_ids where
    content truly depends on (path, page) and never on (sid, ref) —
    the miner must recover exactly that. Reference parity: the same
    canonicalize-before-dedup role as URL expansion (S11,
    functions/urls.py); this learns the strip rules instead of
    hardcoding them."""
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    path_id = _dust_stream("dustp", did, 97)
    page = _dust_stream("dustg", did, 2)
    sid = _dust_stream("dusts", did, 5)
    ref = F.when(_dust_stream("dustr", did, 4) == 0, _dust_stream("dustv", did, 3))
    fp = F.md5(F.concat(path_id.cast("string"), F.lit(":"), page.cast("string")))
    url = F.concat(
        F.lit("https://h"),
        F.pmod(path_id, F.lit(20)).cast("string"),
        F.lit(".example.com/p/"),
        path_id.cast("string"),
        F.lit("?page="),
        page.cast("string"),
        F.lit("&sid="),
        sid.cast("string"),
        F.when(
            ref.isNotNull(), F.concat(F.lit("&ref="), ref.cast("string"))
        ).otherwise(F.lit("")),
    )
    urls = d.select(fp.alias("fp"), url.alias("url")).dropDuplicates(["url"])

    def branch(k: str) -> DataFrame:
        path = F.split(F.col("url"), "\\?").getItem(0)
        kvs = F.split(F.split(F.col("url"), "\\?").getItem(1), "&")
        kept = F.filter(kvs, lambda x: ~x.startswith(k + "="))
        key2 = F.concat(path, F.lit("|"), F.array_join(F.array_sort(kept), "&"))
        g = urls.groupBy(key2.alias("key2")).agg(
            F.countDistinct("url").alias("nu"),
            F.countDistinct("fp").alias("nf"),
        )
        return (
            g.agg(
                F.sum(F.when(F.col("nu") >= 2, 1).otherwise(0))
                .cast("long")
                .alias("n_collapsed"),
                F.sum(F.when((F.col("nu") >= 2) & (F.col("nf") > 1), 1).otherwise(0))
                .cast("long")
                .alias("n_conflicts"),
            )
            .select(
                F.lit(k).alias("param"),
                "n_collapsed",
                "n_conflicts",
                ((F.col("n_collapsed") > 0) & (F.col("n_conflicts") == 0)).alias(
                    "ignorable"
                ),
            )
        )

    out = branch(DUST_PARAMS[0])
    for k in DUST_PARAMS[1:]:
        out = out.unionByName(branch(k))
    return out


def _build_o_dust() -> str:
    h = (
        "('0x' || substr(md5('{p}:' || cast(doc_id as varchar)), 1, 15))::BIGINT"
        " % {m}"
    )
    branches = []
    for k in DUST_PARAMS:
        branches.append(f"""
SELECT '{k}' AS param, n_collapsed, n_conflicts,
       n_collapsed > 0 AND n_conflicts = 0 AS ignorable FROM (
  SELECT cast(sum(CASE WHEN nu >= 2 THEN 1 ELSE 0 END) as bigint) AS n_collapsed,
         cast(sum(CASE WHEN nu >= 2 AND nf > 1 THEN 1 ELSE 0 END) as bigint)
           AS n_conflicts
  FROM (
    SELECT count(distinct url) AS nu, count(distinct fp) AS nf FROM (
      SELECT url, fp,
             split_part(url, '?', 1) || '|' ||
             array_to_string(list_sort(list_filter(
               string_split(split_part(url, '?', 2), '&'),
               x -> NOT starts_with(x, '{k}='))), '&') AS key2
      FROM urls) GROUP BY key2))""")
    return f"""
WITH u AS (
  SELECT doc_id,
         {h.format(p='dustp', m=97)} AS path_id,
         {h.format(p='dustg', m=2)} AS page,
         {h.format(p='dusts', m=5)} AS sid,
         CASE WHEN {h.format(p='dustr', m=4)} = 0
              THEN {h.format(p='dustv', m=3)} END AS ref
  FROM documents),
urls AS (
  SELECT DISTINCT
         md5(cast(path_id as varchar) || ':' || cast(page as varchar)) AS fp,
         'https://h' || cast(path_id % 20 as varchar) || '.example.com/p/' ||
         cast(path_id as varchar) || '?page=' || cast(page as varchar) ||
         '&sid=' || cast(sid as varchar) ||
         CASE WHEN ref IS NOT NULL THEN '&ref=' || cast(ref as varchar)
              ELSE '' END AS url
  FROM u)
{' UNION ALL '.join(branches)}
"""


O_DUST_RULES = _build_o_dust()


# --------------------------------------- query 9: frontier backlog audit


def q_crawl_backlog(spark: SparkSession, sf: str) -> DataFrame:
    """Operational fairness/starvation audit of the politeness queue:
    per host, how much ACTIVE frontier did this round leave behind
    (n_waiting), how much is permanently robots-blocked (n_blocked),
    how many rounds the backlog needs at the host's budget
    (est_rounds_to_drain = the queue-drain estimator an operator
    watches), and the staleness of the oldest waiting URL. The
    reference's equivalent operational view is the crawl-state scan
    behind lasttime.py/following.py (who is overdue and why).

    Shape: the deny-map broadcast + one left-semi-style plan join +
    one groupBy(host) — no new shuffle over the frontier beyond the
    plan membership probe; at 10^10 the plan side is budget-bounded
    (tiny) and broadcasts."""
    from .operators.admission import robots_deny_map

    frontier, budgets, robots = _crawl_fixture(spark, sf)
    _, plan = _plan(spark, sf)
    deny = robots_deny_map(robots)
    hours_idle = F.greatest(
        (F.lit(CRAWL_NOW) - _epoch(F.col("latest_ts"))) / 3600.0, F.lit(0.0)
    )
    f2 = frontier.join(F.broadcast(deny), "host", "left").select(
        "url_hash",
        "host",
        hours_idle.alias("hours_idle"),
        F.when(F.col("deny_prefixes").isNull(), F.lit(False))
        .otherwise(
            F.exists(
                F.col("deny_prefixes"), lambda p: F.startswith(F.col("path"), p)
            )
        )
        .alias("blocked"),
    )
    sched = plan.select("url_hash").distinct().withColumn("__s", F.lit(True))
    j = f2.join(F.broadcast(sched), "url_hash", "left").withColumn(
        "sched", F.coalesce("__s", F.lit(False))
    )
    waiting = ~F.col("blocked") & ~F.col("sched")
    per = j.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum(F.when(F.col("sched"), 1).otherwise(0)).cast("long").alias("n_scheduled"),
        F.sum(F.when(F.col("blocked") & ~F.col("sched"), 1).otherwise(0))
        .cast("long")
        .alias("n_blocked"),
        F.sum(F.when(waiting, 1).otherwise(0)).cast("long").alias("n_waiting"),
        F.round(F.max(F.when(waiting, F.col("hours_idle"))), 4).alias(
            "max_waiting_hours_idle"
        ),
    )
    return per.join(F.broadcast(budgets), "host").select(
        "host",
        "n_active",
        "n_scheduled",
        "n_blocked",
        "n_waiting",
        F.ceil(F.col("n_waiting") / F.col("budget_per_round"))
        .cast("long")
        .alias("est_rounds_to_drain"),
        "max_waiting_hours_idle",
    )


O_CRAWL_BACKLOG = f"""
WITH {_SQL_PLAN_BASE},
fb AS (
  SELECT url_hash, host, hn,
         greatest(({CRAWL_NOW} - latest_e) / 3600.0, 0.0) AS hours_idle,
         ((hn % 5 = 0 AND path LIKE '/u/1%')
          OR (hn % 10 = 0 AND path LIKE '/u/3%')) AS blocked
  FROM f),
s AS (SELECT DISTINCT url_hash, true AS sched0 FROM plan),
j AS (
  SELECT fb.*, coalesce(sched0, false) AS sched
  FROM fb LEFT JOIN s USING (url_hash)),
per AS (
  SELECT host, hn, count(*) AS n_active,
         cast(sum(CASE WHEN sched THEN 1 ELSE 0 END) as bigint) AS n_scheduled,
         cast(sum(CASE WHEN blocked AND NOT sched THEN 1 ELSE 0 END) as bigint)
           AS n_blocked,
         cast(sum(CASE WHEN NOT blocked AND NOT sched THEN 1 ELSE 0 END) as bigint)
           AS n_waiting,
         round(max(CASE WHEN NOT blocked AND NOT sched THEN hours_idle END), 4)
           AS max_waiting_hours_idle
  FROM j GROUP BY host, hn)
SELECT host, n_active, n_scheduled, n_blocked, n_waiting,
       cast(ceil(n_waiting / (2 + hn % 4)) as bigint) AS est_rounds_to_drain,
       max_waiting_hours_idle
FROM per
"""


# ---------------------------------- query 10: DUST rules applied


def q_dust_apply(spark: SparkSession, sf: str) -> DataFrame:
    """Close the DUST loop: APPLY the params dust_rules learned as
    content-irrelevant (sid, ref — zero counterexamples in the same
    fixture) to the crawl log and measure what the frontier gains: per
    host, distinct URLs before vs after rule-canonicalization and the
    fetches saved (the whole point of DUST — every collapsed URL is a
    fetch the politeness budget never has to spend). The content-
    bearing param (page) is NOT stripped, so no two different
    fingerprints ever collapse — asserted by the intent test.

    Shape: map-only canonicalization (same split/filter/sort HOFs as
    the miner) + one groupBy(host) with two distinct counts."""
    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    path_id = _dust_stream("dustp", did, 97)
    page = _dust_stream("dustg", did, 2)
    sid = _dust_stream("dusts", did, 5)
    ref = F.when(_dust_stream("dustr", did, 4) == 0, _dust_stream("dustv", did, 3))
    url = F.concat(
        F.lit("https://h"),
        F.pmod(path_id, F.lit(20)).cast("string"),
        F.lit(".example.com/p/"),
        path_id.cast("string"),
        F.lit("?page="),
        page.cast("string"),
        F.lit("&sid="),
        sid.cast("string"),
        F.when(
            ref.isNotNull(), F.concat(F.lit("&ref="), ref.cast("string"))
        ).otherwise(F.lit("")),
    )
    urls = d.select(url.alias("url")).dropDuplicates(["url"])
    path = F.split(F.col("url"), "\\?").getItem(0)
    kvs = F.split(F.split(F.col("url"), "\\?").getItem(1), "&")
    kept = F.filter(
        kvs, lambda x: ~x.startswith("sid=") & ~x.startswith("ref=")
    )
    canon = F.concat(path, F.lit("|"), F.array_join(F.array_sort(kept), "&"))
    host = F.regexp_extract(F.col("url"), r"^https://([^/]+)/", 1)
    return (
        urls.select(host.alias("host"), F.col("url"), canon.alias("canon"))
        .groupBy("host")
        .agg(
            F.countDistinct("url").alias("n_urls"),
            F.countDistinct("canon").alias("n_canonical"),
            (F.countDistinct("url") - F.countDistinct("canon")).alias(
                "n_fetches_saved"
            ),
        )
    )


def _build_o_dust_apply() -> str:
    h = (
        "('0x' || substr(md5('{p}:' || cast(doc_id as varchar)), 1, 15))::BIGINT"
        " % {m}"
    )
    return f"""
WITH u AS (
  SELECT doc_id,
         {h.format(p='dustp', m=97)} AS path_id,
         {h.format(p='dustg', m=2)} AS page,
         {h.format(p='dusts', m=5)} AS sid,
         CASE WHEN {h.format(p='dustr', m=4)} = 0
              THEN {h.format(p='dustv', m=3)} END AS ref
  FROM documents),
urls AS (
  SELECT DISTINCT
         'https://h' || cast(path_id % 20 as varchar) || '.example.com/p/' ||
         cast(path_id as varchar) || '?page=' || cast(page as varchar) ||
         '&sid=' || cast(sid as varchar) ||
         CASE WHEN ref IS NOT NULL THEN '&ref=' || cast(ref as varchar)
              ELSE '' END AS url
  FROM u),
keyed AS (
  SELECT url,
         regexp_extract(url, 'https://([^/]+)/', 1) AS host,
         split_part(url, '?', 1) || '|' ||
         array_to_string(list_sort(list_filter(
           string_split(split_part(url, '?', 2), '&'),
           x -> NOT starts_with(x, 'sid=') AND NOT starts_with(x, 'ref='))), '&')
           AS canon
  FROM urls)
SELECT host, count(distinct url) AS n_urls,
       count(distinct canon) AS n_canonical,
       count(distinct url) - count(distinct canon) AS n_fetches_saved
FROM keyed GROUP BY host
"""


O_DUST_APPLY = _build_o_dust_apply()


# ----------------------------- query 11: host-graph authority ranking

HG_ITERS = 2
HG_DAMPING = 0.85


def q_host_graph_rank(spark: SparkSession, sf: str) -> DataFrame:
    """Domain-level authority for budget shaping: collapse one round's
    discovered outlinks to a WEIGHTED host->host graph (edge weight =
    distinct links from src host to dst host) and run HG_ITERS weighted
    PageRank iterations — the domain-granularity signal a crawler uses
    to split the global fetch budget across hosts (frontier_pagerank
    ranks URLs; this ranks the politeness domains themselves). Output
    per host: out/in link-weight totals and the 6dp rank.

    100 TB shape: the host graph is |hosts|^2-bounded, tiny relative to
    the URL frontier — the ONLY pass over big data is the outlink
    groupBy; every rank iteration moves an O(|hosts|) vector. Dangling
    hosts (in-links only) redistribute their mass uniformly, exactly as
    frontier_pagerank does."""
    from .plans.fetcher import discover_outlinks

    _, plan = _plan(spark, sf)
    results = fetch_results(plan)
    links = discover_outlinks(results, N_HOSTS).dropDuplicates(["src_hash", "url"])
    src = plan.select("url_hash", F.col("host").alias("src_host"))
    dst_host = F.concat(
        F.lit("h"), F.regexp_extract(F.col("url"), r"^https://h([0-9]+)\.", 1)
    )
    # the host-graph is |hosts|^2-bounded: checkpoint it once so the
    # rank iterations (which reference it 2x per round) and the in/out
    # rollups never re-execute the outlink-discovery Arrow stage
    edges = (
        links.join(src, links["src_hash"] == src["url_hash"])
        .select("src_host", dst_host.alias("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint(eager=False)
    )
    nodes = (
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    outw = edges.groupBy("src_host").agg(F.sum("w").cast("double").alias("ow"))
    ranks = nodes.crossJoin(nn).select("host", (F.lit(1.0) / F.col("n")).alias("rank"))
    d = HG_DAMPING
    for _ in range(HG_ITERS):
        withow = ranks.join(
            outw, ranks["host"] == outw["src_host"], "left"
        ).select(ranks["host"].alias("host"), "rank", "ow")
        dang = withow.where(F.col("ow").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass")
        )
        contribs = (
            edges.join(
                withow.where(F.col("ow").isNotNull()),
                edges["src_host"] == F.col("host"),
            )
            .groupBy("dst_host")
            .agg(F.sum(F.col("rank") * F.col("w") / F.col("ow")).alias("cin"))
        )
        ranks = (
            nodes.join(contribs, nodes["host"] == contribs["dst_host"], "left")
            .crossJoin(dang)
            .crossJoin(nn)
            .select(
                "host",
                (
                    F.lit(1 - d) / F.col("n")
                    + F.lit(d)
                    * (F.coalesce("cin", F.lit(0.0)) + F.col("dmass") / F.col("n"))
                ).alias("rank"),
            )
        )
    inw = edges.groupBy("dst_host").agg(F.sum("w").alias("iw"))
    return (
        nodes.join(outw, nodes["host"] == outw["src_host"], "left")
        .join(inw, nodes["host"] == inw["dst_host"], "left")
        .join(ranks, "host")
        .select(
            "host",
            F.coalesce(F.col("ow"), F.lit(0.0)).cast("long").alias("out_links"),
            F.coalesce(F.col("iw"), F.lit(0)).cast("long").alias("in_links"),
            F.round("rank", 6).alias("rank"),
        )
    )


def _build_o_host_graph() -> str:
    n_out = f"({_stream('u', docspec._S_NOUT)}) % 4"
    th = f"(({_stream('u', docspec._S_OUTHOST, 'j')}) % {N_HOSTS})::BIGINT"
    oid = f"(({_stream('u', docspec._S_OUTID, 'j')}) % 281474976710656::HUGEINT)::BIGINT"
    link = (
        f"'https://h' || cast({th} as varchar) || '.example.com/o/' || "
        f"cast({oid} as varchar)"
    )
    d = HG_DAMPING
    its = []
    for i in range(HG_ITERS):
        its.append(f"""
d{i} AS (
  SELECT coalesce(sum(rank), 0) AS dmass
  FROM r{i} LEFT JOIN outw ON r{i}.host = outw.src_host WHERE ow IS NULL),
c{i} AS (
  SELECT e.dst_host, sum(r.rank * e.w / o.ow) AS cin
  FROM edges e JOIN r{i} r ON e.src_host = r.host
  JOIN outw o ON e.src_host = o.src_host
  GROUP BY e.dst_host),
r{i + 1} AS (
  SELECT nodes.host,
         {1 - d} / n + {d} * (coalesce(cin, 0) + dmass / n) AS rank
  FROM nodes CROSS JOIN nn CROSS JOIN d{i}
  LEFT JOIN c{i} ON nodes.host = c{i}.dst_host)""")
    return f"""
WITH {_SQL_PLAN_BASE},
st AS (SELECT url_hash, host, (url_hash)::HUGEINT AS u FROM plan),
st2 AS (SELECT *, ({_stream('u', docspec._S_STATUS)}) % 100 AS r100 FROM st),
ok AS (SELECT host, u, ({n_out})::BIGINT AS nout FROM st2 WHERE r100 < 88),
lj AS (SELECT host AS src_host, u, unnest(range(0, nout)) AS j FROM ok),
dl AS (SELECT DISTINCT src_host, u, {link} AS url FROM lj),
edges AS (
  SELECT src_host,
         'h' || regexp_extract(url, 'https://h([0-9]+)\\.', 1) AS dst_host,
         count(*) AS w
  FROM dl GROUP BY src_host, dst_host),
nodes AS (SELECT src_host AS host FROM edges UNION SELECT dst_host FROM edges),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
outw AS (SELECT src_host, sum(w)::DOUBLE AS ow FROM edges GROUP BY src_host),
inw AS (SELECT dst_host, sum(w) AS iw FROM edges GROUP BY dst_host),
r0 AS (SELECT host, 1.0 / n AS rank FROM nodes CROSS JOIN nn),
{",".join(its)}
SELECT nodes.host,
       cast(coalesce(ow, 0) as bigint) AS out_links,
       cast(coalesce(iw, 0) as bigint) AS in_links,
       round(r{HG_ITERS}.rank, 6) AS rank
FROM nodes
LEFT JOIN outw ON nodes.host = outw.src_host
LEFT JOIN inw ON nodes.host = inw.dst_host
JOIN r{HG_ITERS} ON nodes.host = r{HG_ITERS}.host
"""


O_HOST_GRAPH_RANK = _build_o_host_graph()


# ----------------------- two-round since_id delta invariant (6b)


def q_crawl_round2_delta(spark: SparkSession, sf: str) -> DataFrame:
    """Two-round refetch DELTA audit — the driver-checked form of the
    north rule's resumability invariant: when round 2 refetches a URL
    that round 1 already fetched, the synthesis yields the documents
    SINCE the checkpoint (dumpall.py since_id paging), never
    duplicates of round 1's page. Per host over the URLs that fetch
    OK in both rounds: round-1 doc count, round-2 doc count, the
    SHARED doc-key count — hash-pinned at zero, which is the whole
    point: the driver value-hash now fails if any engine change makes
    a refetch replay old documents — and the union count proving the
    two pages are additive (r1 + r2 == union).

    100 TB shape: two invocations of the same Arrow fetch-synthesis
    surface at different round numbers, one pair-key anti-join on the
    doc key, per-host rollup. Reference parity:
    twkit/crawler/dumpall.py:83-87 (since_id checkpoint advance);
    engine-side the 5-round pytest (test_round_equivalence) already
    crosses this — THIS query puts the invariant under the driver's
    oracle hash as well."""
    _, plan = _plan(spark, sf)
    d1 = fetch_documents(plan, ROUND_NO).select("host", "doc_id")
    d2 = fetch_documents(plan, ROUND_NO + 1).select("host", "doc_id")
    shared = d1.join(d2.select(F.col("doc_id").alias("doc_id")), "doc_id").groupBy(
        "host"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    a1 = d1.groupBy("host").agg(F.count(F.lit(1)).cast("long").alias("n_docs_r1"))
    a2 = d2.groupBy("host").agg(F.count(F.lit(1)).cast("long").alias("n_docs_r2"))
    un = (
        d1.unionByName(d2)
        .distinct()
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_union"))
    )
    return (
        a1.join(a2, "host")
        .join(un, "host")
        .join(shared, "host", "left")
        .fillna({"n_shared": 0})
        .select("host", "n_docs_r1", "n_docs_r2", "n_shared", "n_union")
    )


def _build_o_round2_delta() -> str:
    dk = lambda base: _stream("u", docspec._S_DOCKEY, f"{base} + j")  # noqa: E731
    return f"""
WITH {_SQL_PLAN_BASE},
st AS (SELECT url_hash, host, (url_hash)::HUGEINT AS u FROM plan),
st2 AS (SELECT *, ({_stream('u', docspec._S_STATUS)}) % 100 AS r100 FROM st),
ok AS (SELECT host, u, (1 + ({_stream('u', docspec._S_NDOCS)}) % 4)::BIGINT AS nd
       FROM st2 WHERE r100 < 88),
dj AS (SELECT host, u, unnest(range(0, nd)) AS j FROM ok),
d1 AS (SELECT host, ({dk(256)}) AS d FROM dj),
d2 AS (SELECT host, ({dk(512)}) AS d FROM dj),
a1 AS (SELECT host, cast(count(*) as bigint) AS n_docs_r1 FROM d1 GROUP BY host),
a2 AS (SELECT host, cast(count(*) as bigint) AS n_docs_r2 FROM d2 GROUP BY host),
sh AS (
  SELECT d1.host, cast(count(*) as bigint) AS n_shared
  FROM d1 JOIN d2 ON d2.d = d1.d GROUP BY d1.host),
un AS (
  SELECT host, cast(count(*) as bigint) AS n_union FROM (
    SELECT DISTINCT host, d FROM (
      SELECT host, d FROM d1 UNION ALL SELECT host, d FROM d2))
  GROUP BY host)
SELECT a1.host, a1.n_docs_r1, a2.n_docs_r2,
       coalesce(sh.n_shared, 0) AS n_shared, un.n_union
FROM a1 JOIN a2 ON a2.host = a1.host
JOIN un ON un.host = a1.host
LEFT JOIN sh ON sh.host = a1.host
"""


O_CRAWL_ROUND2_DELTA = _build_o_round2_delta()
