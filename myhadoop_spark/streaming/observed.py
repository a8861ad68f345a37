"""Per-batch stats observed on the frames a micro-batch executes
anyway (``DataFrame.observe``) instead of counted by extra Spark jobs
— each stats-only ``count()`` was one more round over data the batch
had just written.

An ``Observation`` reports the FIRST action that runs its frame and
fires once, so a face creates one ``Observed`` per batch and observes
each frame where it appears exactly once in an action that consumes
it in full (a write, an eager checkpoint) — never under an
``isEmpty``/``head`` probe, which stops early. ``get`` blocks until
that action has run; code after a step's commit point only reads.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


class Observed:
    """One batch's observed metrics. ``on=False`` (the caller passed
    ``stats=None``) leaves every frame untouched, so the plans and the
    jobs are exactly those of a run without stats."""

    def __init__(self, on: bool = True):
        self.on = on
        self._obs: list[Observation] = []

    def __call__(self, df: DataFrame, **metrics: Column) -> DataFrame:
        """``df`` with the named aggregate ``metrics`` attached."""
        if not self.on:
            return df
        obs = Observation()
        self._obs.append(obs)
        return df.observe(obs, *(c.alias(k) for k, c in metrics.items()))

    def rows(self, df: DataFrame, name: str) -> DataFrame:
        """``df`` with its row count observed as ``name``."""
        return self(df, **{name: F.count(F.lit(1))})

    def get(self) -> dict:
        """Every observed metric by name (blocks until each has run)."""
        return {k: v for obs in self._obs for k, v in obs.get.items()}
