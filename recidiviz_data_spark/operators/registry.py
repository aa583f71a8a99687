"""Aggregated driver-contract registry: importing the operator modules
populates ``base.QUERIES`` / ``base.ORACLES`` via their ``@_q`` decorators."""

from __future__ import annotations

import importlib

from recidiviz_data_spark.operators.base import (  # noqa: F401
    EXTRA_ORACLES,
    EXTRA_QUERIES,
    ORACLES,
    QUERIES,
)

for _name in ("relational", "textops", "dedup", "similarity", "multimodal", "cdcops", "statefulops", "pipeline", "aggview"):
    importlib.import_module(f"recidiviz_data_spark.operators.{_name}")
