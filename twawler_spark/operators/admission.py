"""Frontier admission + robots gating.

``admit`` is the rebuild of the reference's ``can_follow``
(twkit/utils.py:672-692): a candidate is admitted iff it is in none of
the eligibility sets (tracked/dead/ignored/suspended/protected — here
one ``seen`` table). Expressed as a Bloom prefilter (zero false
negatives) + exact LEFT ANTI join on the ~1% "maybe seen" remainder, so
the exact join's probe side shrinks by ~99% at scale.

``gate_robots`` is the crawl-politeness analog the reference lacks
(its "robots" are Twitter error codes, utils.py:496-554): deny rules
are pre-aggregated to one array per host and broadcast, so gating is a
single broadcast hash join + an ``exists()`` lambda over the prefix
array — no skewed shuffle by host, no per-row Python.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from .cuckoo_filter import BroadcastCuckoo
    from .seen_filter import BroadcastBloom


def admit(
    candidates: DataFrame,
    seen: DataFrame,
    bloom: BroadcastBloom | BroadcastCuckoo | None = None,
    key_col: str = "url_hash",
) -> DataFrame:
    """Rows of ``candidates`` whose key is NOT in ``seen``.

    Exact path (bloom=None): plain LEFT ANTI — shuffles BOTH sides by
    key, O(|seen|) shuffle per round. Correct, but the seen-set is the
    10^10 table; reshuffling it every round is the scale killer.

    Probe + confirm path: ``bloom`` is any filter with zero false
    negatives and ``probe(candidates, key_col, flag_col)`` — the round's
    persisted ``BroadcastBloom``, or ``BroadcastCuckoo`` (its ~0.01% fpp
    shrinks the maybe set ~80x further, and its deletes let retraction
    rounds skip a rebuild). ZERO shuffles —
      1. probe candidate keys map-side (broadcast bits + Arrow UDF);
         filter-ABSENT keys are definitely new;
      2. exact-confirm the "maybe seen" remainder with a broadcast SEMI
         join where ``seen`` is the STREAM side: the seen table is
         column-pruned-scanned once but never shuffled;
      3. anti-join candidates against the broadcast CONFIRMED set —
         sized |seen ∩ candidates| + fpp, bounded by the round's
         candidate count, never by |seen|.
    """
    seen_keys = seen.select(key_col)
    if bloom is None:
        # LEFT ANTI ignores duplicate build-side keys, so no distinct()
        # (it cost a whole extra exchange + agg). SHUFFLE_HASH skips the
        # sort on BOTH sides that SMJ would pay — the candidate side is
        # the wide one, and hashing the seen side's per-partition slice
        # is cheaper than sorting it as long as shuffle partitioning
        # keeps slices in memory (size shuffle partitions ∝ |seen|; the
        # hint is advisory and AQE still re-plans skew).
        return candidates.join(
            seen_keys.hint("SHUFFLE_HASH"), key_col, "left_anti"
        )
    flagged = bloom.probe(
        candidates.select(key_col), key_col=key_col, flag_col="__maybe_seen"
    )
    maybe = flagged.where(F.col("__maybe_seen")).select(key_col)
    # seen is the stream side — scanned (pruned to the key column), never
    # shuffled; dupes in `confirmed` dedupe inside the hash relation
    confirmed = seen_keys.join(F.broadcast(maybe), key_col, "left_semi")
    return candidates.join(F.broadcast(confirmed), key_col, "left_anti")


def robots_deny_map(robots: DataFrame) -> DataFrame:
    """(host, deny_prefixes array) — one row per host with deny rules."""
    return (
        robots.where(F.col("rule") == "deny")
        .groupBy("host")
        .agg(F.collect_list("path_prefix").alias("deny_prefixes"))
    )


def gate_robots(candidates: DataFrame, robots: DataFrame, path_col: str) -> DataFrame:
    """Drop candidates whose canonical path (the ``path_col`` column,
    decomposed from the URL once at admission) matches any deny prefix
    of their ``host``; the URL string itself is never read."""
    deny = robots_deny_map(robots)
    path = F.col(path_col)
    joined = candidates.join(F.broadcast(deny), "host", "left")
    blocked = F.when(
        F.col("deny_prefixes").isNull(), F.lit(False)
    ).otherwise(
        F.exists(
            F.col("deny_prefixes"),
            lambda p: F.startswith(path, p),
        )
    )
    return joined.where(~blocked).drop("deny_prefixes")
