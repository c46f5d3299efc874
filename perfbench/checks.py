"""Output checks run after every step (untimed).

Each step's outputs are read back from the catalog with duckdb, not
through the Spark plan that wrote them. Two kinds of check:

* digests: sha256 over the sorted rows of an output. Every step's digest
  must equal the first timed step's, and the first timed step must equal
  the sequential oracle (``twawler_spark.reference_sim``), computed once
  per run from the same generated inputs — so runs of one seed agree;
* invariants: per-host budgets, admission against the pre-step seen set,
  unique document ids, manifest row counts.

A failed check fails its step; it never raises.
"""

from __future__ import annotations

import dataclasses
import hashlib

import duckdb


def digest(rows) -> str:
    """sha256 of the rows' text lines (fields joined by '|'), sorted —
    the same bytes ``sql_digest`` hashes inside duckdb."""
    lines = sorted("|".join(map(str, r)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def sql_digest(cols: str, source: str) -> str:
    return _rows(f"""
        select sha256(coalesce(string_agg(t, chr(10) order by t), ''))
        from (select concat_ws('|', {cols}) as t from {source})""")[0][0]


def _rows(sql: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def _pq(root: str, table: str, round_no: int) -> str:
    return f"read_parquet('{root}/{table}/data/round={round_no}/*.parquet')"


# ------------------------------------------------------------------ crawl
STAT_FIELDS = ("n_scheduled", "n_docs", "n_candidates", "n_admitted", "n_dead", "n_frontier")


def crawl_expected(inputs_root: str, n_hosts: int, round_no: int) -> dict:
    """The oracle's digests for the timed round, run from the inputs."""
    from twawler_spark import docspec, reference_sim

    before = reference_sim.run(inputs_root, round_no - 1, n_hosts)
    sim = reference_sim.run(inputs_root, round_no, n_hosts)
    order = [(uh, k, p) for (r, _h, p, k, uh) in sim.crawl_order if r == round_no]
    # the round's seen delta is every key it added (admitted) plus the
    # keys it buried (dead, already tracked before the round)
    dead = {uh for (uh, _k, _p) in order if docspec.fetch_status(uh) == 404}
    docs = {
        d for (uh, _k, _p) in order if docspec.fetch_status(uh) == 200
        for d, _spans in docspec.synth_docs(uh, round_no)
    }
    stats = sim.stats[-1]
    return {
        "crawl_order": digest(order),
        "seen_delta": digest((k,) for k in (sim.seen - before.seen) | dead),
        "doc_ids": digest((d,) for d in docs),
        "stats": {f: stats[f] for f in STAT_FIELDS},
    }


def crawl_digests(cat_root: str, round_no: int, stats) -> dict:
    return {
        "crawl_order": sql_digest(
            "url_hash, fetch_rank, phase", _pq(cat_root, "crawl_order", round_no)
        ),
        "seen_delta": sql_digest("url_hash", _pq(cat_root, "seen", round_no)),
        "doc_ids": sql_digest("doc_id", _pq(cat_root, "documents", round_no)),
        "stats": dict(vars(stats)),
    }


def crawl_invariants(cat_root: str, round_no: int) -> list[str]:
    """Budget, admission and doc-id checks on the step's own outputs."""
    errors = []
    # budgets as build_two_phase_plan defines them: default 4 + 2 late
    # for hosts missing from the budget table, else B + max(B // 2, 1)
    over = _rows(f"""
        with o as (select host, phase from {_pq(cat_root, 'crawl_order', round_no)}),
             b as (select host, budget_per_round as b
                   from read_parquet('{cat_root}/host_budget/*.parquet'))
        select o.host, count(*) as n,
               count(*) filter (where phase = 'expected') as ne,
               coalesce(any_value(b.b), 4) as b1,
               coalesce(greatest(any_value(b.b) // 2, 1), 2) as b2
        from o left join b using (host)
        group by o.host
        having ne > b1 or n > b1 + b2""")
    if over:
        errors.append(f"{len(over)} hosts over budget, e.g. {over[0]}")
    readmitted = _rows(f"""
        select count(*) from {_pq(cat_root, 'seen', round_no)}
        where set_name = 'tracked' and url_hash in (
            select url_hash from read_parquet('{cat_root}/seen/data/round=*/*.parquet',
                                               hive_partitioning = true)
            where round < {round_no})""")[0][0]
    if readmitted:
        errors.append(f"{readmitted} admitted keys already in the pre-step seen set")
    n, n_distinct = _rows(
        f"select count(*), count(distinct doc_id) from {_pq(cat_root, 'documents', round_no)}"
    )[0]
    if n != n_distinct:
        errors.append(f"doc_id not unique: {n} rows, {n_distinct} distinct")
    return errors


# ------------------------------------------------------------------ seed import
def seed_expected(inputs_root: str, n_hosts: int) -> dict:
    from twawler_spark import reference_sim

    sim = reference_sim.run(inputs_root, 0, n_hosts)
    return {
        "seen_keys": digest((k,) for k in sim.seen),
        "n_seen": len(sim.seen),
        "frontier_keys": digest((k,) for k in sim.frontier_rows),
        "n_frontier": len(sim.frontier_rows),
    }


def seed_digests(cat_root: str) -> dict:
    seen = f"(select distinct url_hash from {_pq(cat_root, 'seen', 0)})"
    frontier = f"read_parquet('{cat_root}/frontier/snap=0/*.parquet')"
    return {
        "seen_keys": sql_digest("url_hash", seen),
        "n_seen": _rows(f"select count(*) from {seen}")[0][0],
        "frontier_keys": sql_digest("url_hash", frontier),
        "n_frontier": _rows(f"select count(*) from {frontier}")[0][0],
    }


def seed_invariants(catalog, digests: dict) -> list[str]:
    from twawler_spark.operators.seen_filter import BroadcastBloom
    from twawler_spark.plans.round import bloom_prefix

    errors = []
    for table, key in (("seen", "n_seen"), ("frontier", "n_frontier")):
        n_rows = catalog.read_manifest(table, 0)["n_rows"]
        if n_rows != digests[key]:
            errors.append(f"{table} manifest n_rows {n_rows} != {digests[key]} distinct keys")
    # zero false negatives: OR-ing every seen key into a copy of the
    # built filter must leave its bits unchanged
    built = BroadcastBloom.load(bloom_prefix(catalog, 0))
    copy = dataclasses.replace(built, bits=built.bits.copy())
    con = duckdb.connect()
    try:
        keys = con.execute(
            f"select url_hash from {_pq(catalog.root, 'seen', 0)}"
        ).fetchnumpy()["url_hash"]
    finally:
        con.close()
    copy.update_from_keys(keys)
    if (copy.bits != built.bits).any():
        errors.append("the built seen filter misses some seen keys")
    return errors


def compare(name: str, got: dict, want: dict) -> list[str]:
    """Mismatches of ``got`` against every key of ``want``."""
    return [
        f"{name}: {k} {got.get(k)!r} != {v!r}" for k, v in want.items() if got.get(k) != v
    ]
