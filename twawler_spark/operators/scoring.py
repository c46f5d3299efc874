"""Priority scoring — the reference's ``freq.py`` semantics.

twkit/crawler/freq.py rebuilds a ``frequences`` priority queue each
cycle: per user, ``f = count*3600/(latest-earliest)`` tweets-per-hour
(freq.py:103) and ``expected = hours_since_last * f`` (freq.py:132-133),
with indexes on ``expected desc`` / ``hours desc`` (freq.py:120-123).

Here both priority orders are plain column expressions over the frontier
snapshot — no materialized queue, no indexes: the "queue" is the ranked
take in ``plans.round.build_two_phase_plan``, re-derived every round
from the same formula.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def score(frontier: DataFrame, now_epoch: int) -> DataFrame:
    """Attach hours_idle + expected (freq.py:103,133) as columns."""
    hours_idle = (
        (F.lit(now_epoch) - F.unix_timestamp(F.col("latest_ts"))) / F.lit(3600.0)
    )
    hours_idle = F.greatest(hours_idle, F.lit(0.0))
    return frontier.withColumn("hours_idle", hours_idle).withColumn(
        "expected", F.col("rate_tph") * F.col("hours_idle")
    )
