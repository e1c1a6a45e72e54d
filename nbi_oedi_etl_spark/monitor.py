"""Pipeline observability — the reference monitor's stage counters
(etl_job.py:69-81, monitor.py:21-136) restated as Spark ``observe`` metrics.

``df.observe`` attaches metric expressions that are computed DURING the
action that consumes the DataFrame — zero extra passes over the data, unlike
the reference's shared-dict counters which serialize through a Manager
process.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation


class StageCounters:
    """Attach named row counters to DataFrames; read them after an action.

    Mirrors the reference's listed/fetched/transformed/uploaded counters
    (monitor.py:44-85) without a second job per counter.
    """

    def __init__(self) -> None:
        self._observations: dict[str, Observation] = {}

    def count_stage(self, df: DataFrame, stage: str) -> DataFrame:
        obs = Observation(stage)
        self._observations[stage] = obs
        return df.observe(obs, F.count(F.lit(1)).alias("rows"))

    def summary(self) -> dict[str, int]:
        """Counter snapshot (call after the consuming action has run).

        A counter whose plan ran no task — a scan that pruned every
        partition — reads 0: its observation comes back as an empty row,
        which ``Observation.get`` cannot convert."""
        out = {}
        for name, obs in self._observations.items():
            row = obs._jo.getRow()
            out[name] = row.getLong(0) if row.length() else 0
        return out
