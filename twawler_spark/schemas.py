"""Fixed StructTypes for every engine table (schema-on-write).

The reference is schemaless Mongo (twkit/utils.py:82-137 opens dynamic
collections); the rebuild declares columnar schemas up front so Parquet
min-max pruning / column pruning work. Mapping (SURVEY.md §1.3):

  tweets       -> documents (interleaved span array, per BASELINE input_hint)
  following ∪ frequences ∪ crawlerdata -> frontier (one row per crawlable unit)
  ignored/cemetery/suspended/protected/greeks -> seen (membership sets)
  lastlimits / limits.py  -> host_budget (politeness)
  robots gating (new)     -> robots
  follow edges (addfollowers.py:39) -> follow_edges
  scheduling plan (crawl-tweets.sh phases 1+2) -> crawl_order
"""

from __future__ import annotations

from pyspark.sql import types as T

# BASELINE.json input_hint, exact:
# doc_id:string, spans:array<struct<kind:string,text:string,media_ref:string,offset:int32>>
SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),       # 'text' | 'media'
        T.StructField("text", T.StringType(), True),        # non-null iff kind='text'
        T.StructField("media_ref", T.StringType(), True),   # non-null iff kind='media'
        T.StructField("offset", T.IntegerType(), False),    # strictly increasing in doc
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN, False), False),
        T.StructField("url_hash", T.LongType(), False),     # source frontier row
        T.StructField("host", T.StringType(), False),
        T.StructField("round", T.IntegerType(), False),
        T.StructField("fetch_rank", T.IntegerType(), False),
    ]
)

# one row per crawlable unit (reference crawlerdata+frequences+following merged;
# field lineage in FIXTURES.md §2.2)
FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),     # xxhash64(canonical url)
        T.StructField("host", T.StringType(), False),
        # canonical path, decomposed ONCE at admission: the scheduler's
        # robots gate reads this short column instead of re-parsing the
        # wide url string every round (columnar schema design — the url
        # column is only read by the fetch/export paths)
        T.StructField("path", T.StringType(), False),
        T.StructField("state", T.StringType(), False),      # active|ignored|dead|suspended|protected
        T.StructField("state_round", T.IntegerType(), False),
        T.StructField("last_id", T.LongType(), True),       # forward checkpoint (crawlerdata.lastid)
        T.StructField("first_id", T.LongType(), True),      # backfill checkpoint (crawlerdata.firstid)
        T.StructField("reached", T.BooleanType(), False),   # backfill exhausted (crawlerdata.reached)
        T.StructField("latest_ts", T.TimestampType(), True),
        T.StructField("earliest_ts", T.TimestampType(), True),
        T.StructField("rate_tph", T.DoubleType(), False),   # frequences.twph analog
        T.StructField("discovered_round", T.IntegerType(), False),
    ]
)

SEEN = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("set_name", T.StringType(), False),   # fetched|ignored|dead|suspended|protected
        T.StructField("added_round", T.IntegerType(), False),
    ]
)

HOST_BUDGET = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("budget_per_round", T.IntegerType(), False),
        T.StructField("min_delay_s", T.IntegerType(), False),
    ]
)

ROBOTS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("rule", T.StringType(), False),       # 'allow' | 'deny'
        T.StructField("path_prefix", T.StringType(), False),
    ]
)

FOLLOW_EDGES = T.StructType(
    [
        T.StructField("src_hash", T.LongType(), False),
        T.StructField("dst_hash", T.LongType(), False),
        T.StructField("discovered_round", T.IntegerType(), False),
    ]
)

# fetch results before state merge
FETCH_RESULT = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("status", T.IntegerType(), False),    # 200|404|403|429
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("new_last_id", T.LongType(), True),   # forward (dumpall)
        T.StructField("new_first_id", T.LongType(), True),  # backfill (load-past)
        T.StructField("new_reached", T.BooleanType(), True),
    ]
)

# frontier change log: one FRONTIER row per changed key and round, with
# op = 'upsert' | 'delete' (SCD2 deltas between compaction snapshots)
FRONTIER_V = T.StructType(
    FRONTIER.fields + [T.StructField("op", T.StringType(), False)]
)

# the round's scheduling plan, one row per scheduled URL (the ordering
# golden of the equivalence tests)
CRAWL_ORDER = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("phase", T.StringType(), False),      # expected|late
        T.StructField("expected", T.DoubleType(), False),
        T.StructField("fetch_rank", T.LongType(), False),
    ]
)

# every table the round writes: Catalog checks each write against its
# declaration and reads it without schema inference, and a table missing
# here can be neither written nor read. Appended tables are read with the
# ``round`` partition column last (DOCUMENTS declares it; the partition
# value is the same)
CATALOG_TABLES = {
    "frontier": FRONTIER,
    "frontier_v": FRONTIER_V,
    "seen": SEEN,
    "documents": DOCUMENTS,
    "follow_edges": FOLLOW_EDGES,
    "crawl_order": CRAWL_ORDER,
}

# the four external inputs under the catalog root: ``Catalog.read_input``
# checks one file footer of each against its declaration and reads it
# with the declared schema, so reading an input runs no inference job
INPUT_TABLES = {
    "frontier_seed": FRONTIER,
    "seen_seed": SEEN,
    "host_budget": HOST_BUDGET,
    "robots": ROBOTS,
}
