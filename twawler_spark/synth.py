"""Deterministic, fully-distributed synthetic input generators.

Everything derives from ``spark.range(n)`` + JVM expressions keyed by
``xxhash64`` of the row id — no Python in the loop, no RNG state, no
partition-id dependence, so any scale regenerates bit-identically (the
FIXTURES.md requirement). Host popularity is log-uniform (≈ Zipf s~1),
so a handful of hosts are hot — exercising the per-host top-K cut that
bounds a hot host's rows ahead of the plan's ranking exchange.

The 10^10-URL design point is reached by raising ``n_urls``; the layout
(hash-derived columns, no driver-side state) is what makes that scale
legal — generation cost is linear and embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.urls import canonicalize_udf, url_hash64

# Fixed "now" for all synthetic timestamps: 2026-01-01T00:00:00Z.
NOW_EPOCH = 1767225600
FRAC = float(1 << 52)


def _u01(tag: str, col) -> F.Column:
    """Deterministic uniform [0,1) keyed by (tag, id) — JVM-side."""
    return F.pmod(F.xxhash64(F.concat(F.lit(tag), col.cast("string"))), F.lit(1 << 52)) / F.lit(FRAC)


def _mod(tag: str, col, m: int) -> F.Column:
    return F.pmod(F.xxhash64(F.concat(F.lit(tag), col.cast("string"))), F.lit(m))


def gen_frontier(
    spark: SparkSession,
    n_urls: int,
    n_hosts: int,
    partitions: int | None = None,
    canonicalize: bool = True,
    noise: bool = True,
) -> DataFrame:
    """One row per crawlable URL; ~92% active, skewed host popularity.

    ``noise=True`` emits messy raw URLs (mixed case, tracking params,
    default ports) that the canonicalization UDF must clean — the
    correctness path. ``noise=False`` emits the canonical form directly
    (pure JVM expressions, no Arrow boundary) — the fast path for
    generating 10^7+-row bench frontiers.
    """
    df = spark.range(0, n_urls, 1, partitions or spark.sparkContext.defaultParallelism)
    i = F.col("id")
    # log-uniform host popularity: floor(H**u) - 1 in [0, H-1]
    host_id = F.least(
        F.lit(n_hosts - 1),
        (F.floor(F.pow(F.lit(float(n_hosts)), _u01("host", i))) - 1).cast("long"),
    )
    host = F.concat(F.lit("h"), host_id.cast("string"), F.lit(".example.com"))
    variant = _mod("var", i, 4) if noise else F.lit(0)
    raw_url = (
        F.when(
            variant == 0,
            F.concat(F.lit("https://"), host, F.lit("/p/"), i.cast("string")),
        )
        .when(
            variant == 1,
            F.concat(
                F.lit("HTTPS://WWW."),
                F.upper(host),
                F.lit("//p//"),
                i.cast("string"),
                F.lit("/"),
            ),
        )
        .when(
            variant == 2,
            F.concat(
                F.lit("https://"),
                host,
                F.lit("/p/"),
                i.cast("string"),
                F.lit("?utm_source=gen&b=2&a=1#frag"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://"),
                host,
                F.lit(":443/p/"),
                i.cast("string"),
                F.lit("?sess=abc"),
            )
        )
    )
    state_r = _mod("state", i, 100)
    state = (
        F.when(state_r < 92, "active")
        .when(state_r < 94, "ignored")
        .when(state_r < 96, "dead")
        .when(state_r < 98, "suspended")
        .otherwise("protected")
    )
    hours_idle = 1.0 + 200.0 * _u01("idle", i)
    rate = 0.05 + 50.0 * F.pow(_u01("rate", i), F.lit(3.0))
    out = df.select(
        raw_url.alias("raw_url"),
        host.alias("host"),
        state.alias("state"),
        F.lit(0).alias("state_round"),
        (_mod("lastid", i, 1 << 40)).alias("last_id"),
        (_mod("firstid", i, 1 << 20)).alias("first_id"),
        (_mod("reached", i, 10) < 3).alias("reached"),
        F.timestamp_seconds(F.lit(NOW_EPOCH) - (hours_idle * 3600).cast("long")).alias(
            "latest_ts"
        ),
        F.timestamp_seconds(
            F.lit(NOW_EPOCH) - (hours_idle * 3600).cast("long") - F.lit(86400 * 30)
        ).alias("earliest_ts"),
        rate.alias("rate_tph"),
        F.lit(0).alias("discovered_round"),
    )
    url = (
        canonicalize_udf(F.col("raw_url"))
        if (canonicalize and noise)
        else F.col("raw_url")
    )
    return (
        out.withColumn("url", url)
        .withColumn("url_hash", url_hash64(F.col("url")))
        # path decomposed once at generation/admission — the scheduler
        # never re-parses the wide url column (FRONTIER.path)
        .withColumn(
            "path",
            F.coalesce(F.parse_url(F.col("url"), F.lit("PATH")), F.lit("/")),
        )
        .drop("raw_url")
    )


def gen_seen(frontier: DataFrame, extra_ratio_mod: int = 10, keep_lt: int = 2) -> DataFrame:
    """Membership sets: a deterministic ~20% of frontier URLs are already
    seen (cemetery/ignored/... analog, utils.py:672-692 truth table)."""
    r = F.pmod(F.xxhash64(F.concat(F.lit("seen"), F.col("url_hash").cast("string"))), F.lit(extra_ratio_mod))
    set_name = (
        F.when(r == 0, "fetched").otherwise(F.lit("ignored"))
    )
    return (
        frontier.where(r < keep_lt)
        .select(F.col("url_hash"), set_name.alias("set_name"), F.lit(0).alias("added_round"))
    )


def gen_host_budget(spark: SparkSession, n_hosts: int) -> DataFrame:
    df = spark.range(0, n_hosts)
    i = F.col("id")
    return df.select(
        F.concat(F.lit("h"), i.cast("string"), F.lit(".example.com")).alias("host"),
        (2 + _mod("budget", i, 30)).cast("int").alias("budget_per_round"),
        (1 + _mod("delay", i, 10)).cast("int").alias("min_delay_s"),
    )


def gen_robots(spark: SparkSession, n_hosts: int) -> DataFrame:
    """~25% of hosts deny one /p/<digit> prefix (≈11% of their URLs)."""
    df = spark.range(0, n_hosts)
    i = F.col("id")
    return (
        df.where(_mod("robots", i, 4) == 0)
        .select(
            F.concat(F.lit("h"), i.cast("string"), F.lit(".example.com")).alias("host"),
            F.lit("deny").alias("rule"),
            F.concat(F.lit("/p/"), _mod("denyd", i, 10).cast("string")).alias("path_prefix"),
        )
    )


def write_inputs(
    spark: SparkSession,
    root: str,
    n_urls: int,
    n_hosts: int,
    partitions: int | None = None,
    noise: bool = True,
) -> None:
    """Materialize the four input tables under ``root`` (parquet dirs)."""
    frontier = gen_frontier(spark, n_urls, n_hosts, partitions, noise=noise)
    frontier.write.mode("overwrite").parquet(f"{root}/frontier_seed")
    frontier = spark.read.parquet(f"{root}/frontier_seed")
    gen_seen(frontier).write.mode("overwrite").parquet(f"{root}/seen_seed")
    gen_host_budget(spark, n_hosts).write.mode("overwrite").parquet(f"{root}/host_budget")
    gen_robots(spark, n_hosts).write.mode("overwrite").parquet(f"{root}/robots")
