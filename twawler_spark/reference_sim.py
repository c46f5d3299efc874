"""Sequential pure-Python semantics oracle for the crawl loop.

Re-implements the reference's scheduling semantics the way the reference
itself runs them — single process, dict/Counter state, one loop — with
no Spark: scoring formula freq.py:103,133, admission truth table
utils.py:672-692, per-host budgets (limits.py analog), set-mutation
state machine utils.py:351-446, TTL revival utils.py:369-412.

Tests assert the distributed pipeline (plans/round.py) produces:
  * identical crawl ordering on the composite key (round, host, rank)
  * identical final URL-seen set
  * identical per-row span sequences (kind, text, media_ref, order)

Document/outlink synthesis is shared via docspec (the sandbox's network
stand-in); the scheduling, dedup, budget, robots and state logic here is
written independently of the DataFrame code on purpose.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import duckdb

from .docspec import fetch_status, n_docs, outlinks, synth_docs
from .hashing import to_signed64, xxh64_str

REVIVE_TTL_ROUNDS = 3
ROUND_SECONDS = 3600
NOW_EPOCH = 1767225600  # keep in sync with synth.NOW_EPOCH


BACKFILL_STEP = 3  # keep in sync with docspec.BACKFILL_STEP


@dataclass
class SimResult:
    crawl_order: list  # (round, host, phase, fetch_rank, url_hash)
    seen: set  # url_hash (signed)
    documents: dict  # doc_id -> list[(kind, text, media_ref, offset)]
    frontier_states: dict  # url_hash -> state
    frontier_rows: dict = field(default_factory=dict)  # url_hash -> full row
    edges: set = field(default_factory=set)  # (src_hash, dst_hash)
    stats: list = field(default_factory=list)


def _path_of(url: str) -> str:
    rest = url.split("://", 1)[1]
    slash = rest.find("/")
    path = rest[slash:] if slash >= 0 else "/"
    q = path.find("?")
    return path[:q] if q >= 0 else path


def load_inputs(root: str):
    con = duckdb.connect()
    frontier = con.execute(
        f"""select url, url_hash, host, state, state_round,
                   last_id, first_id, reached,
                   cast(epoch(latest_ts) as bigint) as latest_epoch,
                   cast(epoch(earliest_ts) as bigint) as earliest_epoch,
                   rate_tph, discovered_round
            from read_parquet('{root}/frontier_seed/*.parquet')"""
    ).fetchall()
    seen = con.execute(
        f"select url_hash, set_name from read_parquet('{root}/seen_seed/*.parquet')"
    ).fetchall()
    budgets = dict(
        con.execute(
            f"select host, budget_per_round from read_parquet('{root}/host_budget/*.parquet')"
        ).fetchall()
    )
    robots: dict[str, list[str]] = {}
    for host, rule, prefix in con.execute(
        f"select host, rule, path_prefix from read_parquet('{root}/robots/*.parquet')"
    ).fetchall():
        if rule == "deny":
            robots.setdefault(host, []).append(prefix)
    con.close()
    return frontier, seen, budgets, robots


def run(root: str, n_rounds: int, n_hosts: int) -> SimResult:
    frontier_rows, seen_rows, budgets, robots = load_inputs(root)

    seed_keys = {r[0] for r in seen_rows}
    # bootstrap: tracked = frontier minus seed sets (can_follow); rows in a
    # terminal state go straight to the sets (cemetery/ignored analog)
    frontier = {}
    seen = set(seed_keys)
    for (url, uh, host, state, state_round, last_id, first_id, reached,
         latest_e, earliest_e, rate, disc) in frontier_rows:
        if uh in seed_keys:
            continue
        seen.add(uh)
        if state in ("dead", "ignored"):
            continue
        frontier[uh] = {
            "url": url, "host": host, "state": state, "state_round": state_round,
            "last_id": last_id or 0, "first_id": first_id or 0,
            "reached": bool(reached), "latest_epoch": latest_e, "rate": rate,
        }

    crawl_order = []
    documents = {}
    edges = set()  # (src_hash, dst_hash)
    stats = []

    for r in range(1, n_rounds + 1):
        now = NOW_EPOCH + r * ROUND_SECONDS
        # TTL revival
        for row in frontier.values():
            if row["state"] in ("suspended", "protected") and r - row["state_round"] >= REVIVE_TTL_ROUNDS:
                row["state"] = "active"

        # score + robots gate, grouped per host
        per_host: dict[str, list] = {}
        for uh, row in frontier.items():
            if row["state"] != "active":
                continue
            prefixes = robots.get(row["host"])
            if prefixes and any(_path_of(row["url"]).startswith(p) for p in prefixes):
                continue
            idle = max(0.0, (now - row["latest_epoch"]) / 3600.0)
            per_host.setdefault(row["host"], []).append((row["rate"] * idle, idle, uh))

        # phase 1: budget-ranked by expected (DESC, url_hash ASC);
        # phase 2 (--crawl-late): leftovers by staleness, half budget.
        # Every frontier host needs a budget: no default (as the planner)
        plan = []
        for host, cands in per_host.items():
            b1 = budgets[host]
            if b1 is None:
                raise ValueError(f"host {host!r} has a NULL budget_per_round")
            b2 = max(b1 // 2, 1)
            cands.sort(key=lambda t: (-t[0], t[2]))
            taken = cands[:b1]
            for rank, (_exp, _idle, uh) in enumerate(taken, 1):
                plan.append((host, "expected", rank, uh))
            rest = cands[b1:]
            rest.sort(key=lambda t: (-t[1], t[2]))
            for rank, (_exp, _idle, uh) in enumerate(rest[:b2], 1):
                plan.append((host, "late", rank, uh))

        # fetch
        n_doc_round = 0
        new_cands = {}
        dead = []
        for host, phase, rank, uh in plan:
            crawl_order.append((r, host, phase, rank, uh))
            st = fetch_status(uh)
            row = frontier[uh]
            if st == 200:
                for doc_id, spans in synth_docs(uh, r):
                    if doc_id not in documents:
                        n_doc_round += 1
                    documents[doc_id] = spans
                row["last_id"] += n_docs(uh)
                if not row["reached"]:
                    row["first_id"] = max(row["first_id"] - BACKFILL_STEP, 0)
                    row["reached"] = row["first_id"] == 0
                row["latest_epoch"] = now
                for url in outlinks(uh, n_hosts):
                    h = to_signed64(xxh64_str(url))
                    edges.add((uh, h))
                    new_cands.setdefault(h, url)
            elif st == 404:
                row["state"] = "dead"
                dead.append(uh)
            elif st == 403:
                row["state"] = "protected"
                row["state_round"] = r
            elif st == 429:
                row["state"] = "suspended"
                row["state_round"] = r

        # admission of discovered candidates
        admitted = 0
        for h, url in new_cands.items():
            if h in seen:
                continue
            seen.add(h)
            admitted += 1
            host = url.split("://", 1)[1].split("/", 1)[0]
            frontier[h] = {
                "url": url, "host": host, "state": "active", "state_round": r,
                "last_id": 0, "first_id": 0, "reached": False,
                "latest_epoch": now, "rate": 1.0,
            }
        for uh in dead:  # dead keys are already in seen (were tracked)
            del frontier[uh]
        stats.append(
            {"round": r, "n_scheduled": len(plan), "n_docs": n_doc_round,
             "n_candidates": len(new_cands), "n_admitted": admitted,
             "n_dead": len(dead), "n_frontier": len(frontier)}
        )

    return SimResult(
        crawl_order=crawl_order,
        seen=seen,
        documents=documents,
        frontier_states={uh: row["state"] for uh, row in frontier.items()},
        frontier_rows=frontier,
        edges=edges,
        stats=stats,
    )
