"""Surrogate-key generation (SURVEY §2.7 O5).

The reference assigns ids with ``range(1, len(df)+1)`` on an in-memory
frame (reference main.py:218,225,255,271). ``add_surrogate_key`` is the
distributed form: row_number over an explicit global order. Exact
and contiguous, and deterministic when the order keys are unique; the
numbering pass is a single-partition window, which is FINE for
dimension-grained frames (small by definition) and WRONG for 100 TB
facts. The EcoWatt star keys its merged per-suburb frame once and
derives every fact id from that key, including the reference's
second-batch offset (main.py:288-291), so no fact-scale frame is ever
numbered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def add_surrogate_key(df: DataFrame, name: str, order_by: list[str]) -> DataFrame:
    """Contiguous 1-based ids in the global order of ``order_by``."""
    w = W.orderBy(*[F.col(c) for c in order_by])
    return df.withColumn(name, F.row_number().over(w).cast("long"))
