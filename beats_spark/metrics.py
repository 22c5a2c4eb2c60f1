"""Pipeline metrics: the reference's monotonic counters, Spark-native.

Counter names mirror ``libbeat/publisher/pipeline/monitoring.go:86-97``
(``events.total/filtered/published/dropped``) and the per-output set
(``libbeat/outputs/metrics.go:53-66``). In Spark the cheap, exact
mechanism is ``df.observe`` (named metrics collected during the action
that materializes the frame — no extra pass), plus per-sink group-by
counts for the reconciliation table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


class PipelineMetrics:
    """Attach observation points along the pipeline; read after an action."""

    def __init__(self) -> None:
        self.observations: dict[str, Observation] = {}

    def observe_count(self, df: DataFrame, name: str) -> DataFrame:
        obs = Observation(name)
        self.observations[name] = obs
        return df.observe(obs, F.count(F.lit(1)).alias(name))

    def get(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for name, obs in self.observations.items():
            try:
                out.update({k: v for k, v in obs.get.items()})
            except Exception:
                out[name] = -1  # frame never materialized
        return out
