"""Two-cluster-size scaling evidence (BASELINE.json north rule).

No real cluster exists in this sandbox, so the N -> 4N executor
criterion is evidenced by running bench.py's crawl rounds (bootstrap a
fresh catalog, then ``run_rounds`` over bench.CRAWL_ROUNDS rounds) at
two parallelism levels (one JVM subprocess per level) on the same
input. Default pairs: 8:32 (the driver-suggested proxy) and 4:16 (a 4x
pair that does not saturate the 32-vcore box's shared memory bus, so it
isolates the ENGINE's scalability from single-host bandwidth limits —
on a real cluster each executor brings its own memory bus).
Results + efficiency go to BENCH.md.

Usage: python scripts/bench_scaling.py [n_urls] [pairs]
  pairs: comma-separated N:4N list, e.g. "8:32,4:16" (default)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench_version() -> str:
    """Version token for the level cache: a hash of bench.py, so caches
    measured by older bench code never silently mix into a sweep."""
    import hashlib

    with open(os.path.join(REPO, "bench.py"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def run_level(cpus: int, n_urls: int) -> dict:
    # level results are cached on disk so a crashed/partial sweep can be
    # resumed without re-measuring finished levels (delete to re-run);
    # keyed on bench.py's content hash so a bench change invalidates them
    cache = f"/tmp/twawler_bench/level_{cpus}_{n_urls}_{_bench_version()}.json"
    if os.path.exists(cache):
        res = json.load(open(cache))
        print(f"local[{cpus}]: cached ({cache})", file=sys.stderr)
        return res
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_BENCH_URLS=str(n_urls),
        SPARK_GRAFT_BENCH_SKIP_QUERIES="1",
    )
    t0 = time.time()
    # taskset pins the level to exactly `cpus` physical cores: an
    # unpinned local[8] JVM still spreads GC/shuffle-IO threads over all
    # 32 cores, which inflates the N level's throughput and understates
    # scaling efficiency. A pinned level is the faithful proxy for an
    # N-core cluster slice (the JVM sizes its thread pools from the
    # affinity mask).
    out = subprocess.run(
        ["taskset", "-c", f"0-{cpus - 1}",
         sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=7200,
    )
    if not out.stdout.strip():
        print(f"local[{cpus}] FAILED; stderr tail:\n"
              + "\n".join(out.stderr.splitlines()[-40:]), file=sys.stderr)
        raise RuntimeError(f"bench level {cpus} produced no output")
    line = out.stdout.strip().splitlines()[-1]
    res = json.loads(line)
    res["wall_sec"] = round(time.time() - t0, 1)
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    json.dump(res, open(cache, "w"))
    print(f"local[{cpus}]: {res['value']} scheduled+candidates/sec "
          f"(crawl rounds {res['queries']['crawl_rounds_s']}s, "
          f"bootstrap {res['queries']['bootstrap_s']}s)", file=sys.stderr)
    return res


def main() -> int:
    n_urls = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    pairs = [
        tuple(int(x) for x in p.split(":"))
        for p in (sys.argv[2] if len(sys.argv) > 2 else "8:32,4:16").split(",")
    ]
    levels = sorted({c for p in pairs for c in p})
    results = {c: run_level(c, n_urls) for c in levels}

    tables = []
    for n, n4 in pairs:
        rn, r4 = results[n], results[n4]
        speedup = r4["value"] / rn["value"]
        eff = speedup / (n4 / n)
        tables.append(f"""
### local[{n}] -> local[{n4}]

| parallelism | crawl rounds sec | bootstrap sec | scheduled+candidates/sec |
|---|---|---|---|
| local[{n}]  (N)  | {rn["queries"]["crawl_rounds_s"]} | {rn["queries"]["bootstrap_s"]} | {rn["value"]:,.0f} |
| local[{n4}] (4N) | {r4["queries"]["crawl_rounds_s"]} | {r4["queries"]["bootstrap_s"]} | {r4["value"]:,.0f} |

**speedup {n}→{n4} = {speedup:.2f}x, scaling efficiency = {eff:.2f}**
""")
    some = results[max(levels)]
    md = f"""# BENCH — scaling evidence (N vs 4N parallelism)

North-rule criterion: throughput scaling efficiency >= 0.8 from N to 4N
executors. Single-host proxy: bench.py's crawl rounds at two parallelism
levels on the identical input ({n_urls:,} synthetic frontier URLs,
{max(100, n_urls // 200):,} hosts, log-uniform host skew). Each level
bootstraps a fresh catalog (untimed) and times `run_rounds` over
{some["config"]["iterations"]} rounds — fetch, admission, the per-round
appends and commits, as `python -m twawler_spark crawl` runs them. The
throughput is Σ(n_scheduled + n_candidates) over that wall time; JVM
startup and input generation are excluded. Shuffle partitions are
proportional to cores at every level (4x cores at the >=10M-URL tier —
AQE coalesces). Each level is pinned with `taskset` to exactly N cores,
so "local[N]" is a true N-core machine.
{"".join(tables)}
The 4→16 pair is reported alongside 8→32 because the sandbox is ONE
32-vcore host: at local[32] every core is claimed, so the run measures
the machine's shared memory-bus saturation as much as the engine's
plan. On a real cluster 4N executors bring 4N memory buses; the 4→16
pair, which leaves headroom on the box, is the closer proxy for that.

Admission at the |seen| >> |candidates| shape (SMJ pinned), local[{max(levels)}]:
exact {some["queries"]["admit_seenbig_exact"]}s vs persisted-bloom
{some["queries"]["admit_seenbig_bloom"]}s (incl. the per-round O(delta)
filter update of {some["queries"]["bloom_delta_update"]}s) vs cuckoo
{some["queries"]["admit_seenbig_cuckoo"]}s.

Raw results:
```json
{chr(10).join(json.dumps(results[c]) for c in levels)}
```
"""
    # preserve hand-written analysis sections: everything at/after the
    # marker line survives a sweep rewrite (the generated part is only
    # the scaling-evidence header above it)
    marker = "<!-- appended-analyses -->"
    bench_path = os.path.join(REPO, "BENCH.md")
    tail = ""
    if os.path.exists(bench_path):
        old = open(bench_path).read()
        if marker in old:
            tail = old[old.index(marker):]
    if not tail:
        tail = marker + "\n"
    with open(bench_path, "w") as f:
        f.write(md + "\n" + tail)
    print(md)
    return 0


if __name__ == "__main__":
    sys.exit(main())
