"""U1: the 4-way UNION fan-in into the combined table
(schema/schema-global-combined.sql:42-108) — SURVEY.md §2.7.

Each source projects the 11-col common subset (+ metadata), restricted to
the 2-hour input window. `vertical_rate` is Int32 in the full schemas but
Float32 in the combined table (schema-global-combined.sql:24) — cast on
the way in (``schemas.combined_schema`` is the resulting table schema).

The UNION itself is the shared combined state: every source's pipeline
upserts its projection there (streaming/pipeline.py), and the upsert's
latest_per_key supplies the ReplacingMergeTree dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import COMBINED_COLUMNS, COMBINED_INPUT_WINDOW
from .latest import recency_filter


def to_combined(clean: DataFrame, *, now: Column | None = None, window: str = COMBINED_INPUT_WINDOW) -> DataFrame:
    """Project one cleaned source to the combined common subset
    (schema-global-combined.sql:42-57)."""
    recent = recency_filter(clean, window, now=now)
    cols = [
        F.col(c).cast("float").alias(c) if c == "vertical_rate" else F.col(c)
        for c in COMBINED_COLUMNS
    ]
    return recent.select(*cols)

