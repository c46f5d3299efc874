"""Sustained-crawl bench: per-round wall time as frontier/seen GROW.

The scaling ladder (bench_scaling.py) evidences N->4N throughput on a
FIXED input; this script evidences the orthogonal claim the storage
layer makes: per-round cost tracks THAT round's work (O(delta) seen
appends, frontier delta + periodic compaction, persisted bloom with
O(delta) updates), not the accumulated crawl state. A growing
per-unit-work round time across rounds would mean an O(history) term
somewhere (snapshot replay, filter rebuild, unbounded delta chains).

Runs R rounds one-at-a-time, each resumed from the previous round's
committed snapshot (the CLI's own resume path — Catalog re-read per
round, nothing cached across rounds in the driver), timing each round
end-to-end including snapshot read + atomic commit. Crossing
compaction rounds (every 4) and TTL revival is the point.

Usage:
  taskset -c 0-15 python scripts/bench_sustained.py \
      --root /tmp/twawler_sustained --urls 2000000 --hosts 20000 \
      --rounds 16 --cpus 16

Prints one JSON line per round plus a summary line comparing
early-vs-late per-unit-work cost (us per scheduled+candidate row).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from twawler_spark.io_catalog import Catalog
from twawler_spark.plans.round import bootstrap, run_rounds
from twawler_spark.session import get_spark
from twawler_spark.synth import write_inputs


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--root", default="/tmp/twawler_sustained")
    p.add_argument("--urls", type=int, default=2_000_000)
    p.add_argument("--hosts", type=int, default=20_000)
    p.add_argument("--rounds", type=int, default=16)
    p.add_argument("--cpus", type=int, default=16)
    p.add_argument("--keep", action="store_true", help="reuse existing root")
    a = p.parse_args()

    spark = get_spark(
        "sustained",
        master=f"local[{a.cpus}]",
        shuffle_partitions=max(2 * a.cpus, 16),
    )
    try:
        if not a.keep:
            shutil.rmtree(a.root, ignore_errors=True)
        if not os.path.exists(a.root):
            t0 = time.time()
            write_inputs(spark, a.root, a.urls, a.hosts)
            print(
                json.dumps(
                    {"gen": a.urls, "hosts": a.hosts, "sec": round(time.time() - t0, 2)}
                ),
                flush=True,
            )
        cat = Catalog(spark, a.root)
        if cat.latest_round("frontier") is None:
            bootstrap(
                cat, cat.read_input("frontier_seed"), cat.read_input("seen_seed")
            )

        rows = []
        for _ in range(a.rounds):
            # run_rounds takes the absolute TARGET round; one at a time,
            # resumed from the committed snapshot, so each iteration pays
            # the full resume + commit cost a real restart would.
            target = (cat.latest_round("frontier") or 0) + 1
            t0 = time.time()
            (st,) = run_rounds(cat, target, n_hosts=a.hosts)
            dt = time.time() - t0
            work = st.n_scheduled + st.n_candidates
            row = {
                "round": st.round,
                "sec": round(dt, 3),
                "n_active": st.n_active,
                "n_scheduled": st.n_scheduled,
                "n_candidates": st.n_candidates,
                "n_frontier": st.n_frontier,
                "n_seen": st.n_seen,
                "us_per_unit": round(dt * 1e6 / work, 2) if work else None,
            }
            rows.append(row)
            print(json.dumps(row), flush=True)

        k = min(3, len(rows) // 2)
        early = sum(r["us_per_unit"] for r in rows[:k]) / k
        late = sum(r["us_per_unit"] for r in rows[-k:]) / k
        print(
            json.dumps(
                {
                    "summary": "sustained",
                    "rounds": len(rows),
                    "cpus": a.cpus,
                    "urls": a.urls,
                    "early_us_per_unit": round(early, 2),
                    "late_us_per_unit": round(late, 2),
                    "late_over_early": round(late / early, 3),
                    "seen_growth": round(rows[-1]["n_seen"] / rows[0]["n_seen"], 2),
                }
            ),
            flush=True,
        )
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
