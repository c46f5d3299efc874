"""Custom stateful streaming operator — applyInPandasWithState.

The reference's crawl checkpoint is driver-side mutable state: each
fetched page advances ``crawlerdata.lastid`` and bumps counters
(twkit/crawler/dumpall.py:63-87). Here that per-user checkpoint is a
KEYED STREAMING STATE: as events arrive, each user's state carries
(n_events, last_id = max event id, distinct event-type set) and emits
the running checkpoint after every batch. The accumulators are
monotone, so the batch-final row per user equals max() over emissions —
which is what the query returns (and what the DuckDB oracle checks).
"""

from __future__ import annotations

import itertools
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_counter = itertools.count()

_OUT = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("n_events", LongType(), False),
        StructField("last_id", LongType(), False),
        StructField("n_types", IntegerType(), False),
    ]
)
# state: counters + the seen event-type set (comma-joined; 5 types total)
_STATE = StructType(
    [
        StructField("n_events", LongType(), False),
        StructField("last_id", LongType(), False),
        StructField("types", StringType(), False),
    ]
)


def _advance(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    n, last, types = state.get if state.exists else (0, -1, "")
    seen = set(types.split(",")) - {""}
    for pdf in pdfs:
        n += len(pdf)
        if len(pdf):
            last = max(last, int(pdf["event_id"].max()))
            seen.update(pdf["event_type"].unique().tolist())
    state.update((n, last, ",".join(sorted(seen))))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "last_id": [last],
            "n_types": [len(seen)],
        }
    )


def stream_checkpoint_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stateful checkpoint stream over the static events dir to
    completion; return the final per-user checkpoint (max over the
    monotone per-batch emissions)."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    name = f"ckpt_out_{next(_counter)}"
    events = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .select("user_id", "event_id", "event_type")
    )
    updates = events.groupBy("user_id").applyInPandasWithState(
        _advance,
        outputStructType=_OUT,
        stateStructType=_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        updates.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("last_id").alias("last_id"),
            F.max("n_types").alias("n_types"),
        )
    )


O_STREAM_CHECKPOINT = """
SELECT user_id, count(*) AS n_events, max(event_id) AS last_id,
       cast(count(DISTINCT event_type) as int) AS n_types
FROM events GROUP BY user_id
"""


# ---------------------------- streaming per-host politeness budget (J5/O1)

_BUDGET_OUT = StructType(
    [
        StructField("host", StringType(), False),
        StructField("event_id", LongType(), False),
        StructField("admit_rank", IntegerType(), False),
    ]
)
_BUDGET_STATE = StructType([StructField("n_admitted", IntegerType(), False)])
HOST_BUDGET = 25


def _admit(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """Admit candidates for one host in priority order until the host's
    budget is exhausted; the admitted count is KEYED STREAMING STATE so
    the budget holds across triggers (late candidates are rejected even
    if they arrive in a later batch)."""
    n = state.get[0] if state.exists else 0
    pdf = pd.concat(list(pdfs), ignore_index=True)
    pdf = pdf.sort_values("event_id")  # priority order within the trigger
    take = pdf.head(max(HOST_BUDGET - n, 0))
    if len(take):
        yield pd.DataFrame(
            {
                "host": take["host"].to_numpy(),
                "event_id": take["event_id"].to_numpy(),
                "admit_rank": pd.array(
                    range(n + 1, n + 1 + len(take)), dtype="int32"
                ),
            }
        )
    state.update((n + len(take),))


def stream_host_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-host politeness budget (J5/O1 — freq.py scoring feeding
    dumpall.py's per-round claim) as a NATIVE streaming operator:
    candidates stream in, ``applyInPandasWithState`` keyed by host
    admits the first HOST_BUDGET candidates per host in priority
    (event_id) order and rejects the rest — the streaming twin of the
    batch scheduler's two-phase budget rank. State is one
    counter per host, so memory is O(|hosts|) regardless of stream
    length. The static-input run is single-trigger (one source file),
    so admission order is globally deterministic and the oracle is the
    windowed row_number <= budget over the same input."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    name = f"budget_out_{next(_counter)}"
    cands = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .select(
            F.concat(F.lit("h"), (F.col("event_id") % 50).cast("string")).alias(
                "host"
            ),
            "event_id",
        )
    )
    admitted = cands.groupBy("host").applyInPandasWithState(
        _admit,
        outputStructType=_BUDGET_OUT,
        stateStructType=_BUDGET_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        admitted.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


O_STREAM_HOST_BUDGET = f"""
SELECT 'h' || cast(event_id % 50 as varchar) AS host, event_id,
       cast(rn as int) AS admit_rank
FROM (SELECT event_id,
             row_number() OVER (PARTITION BY event_id % 50
                                ORDER BY event_id) AS rn
      FROM events)
WHERE rn <= {HOST_BUDGET}
"""
