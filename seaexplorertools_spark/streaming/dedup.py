"""First-seen-per-key deduplication (engine addition; oracle-checked as
``st_first_seen``).

Training-data ingestion sees the same logical record many times
(retries, re-crawls, at-least-once sources). ``first_seen`` keeps the
earliest event per key by event time, with a deterministic tiebreak on a
unique id, in one ``groupBy`` with ``min_by`` — no window and no sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def first_seen(
    events: DataFrame,
    key_cols: list[str],
    time_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """The earliest event per key, deterministic via
    (time, tiebreak) min-by. One groupBy — shuffle volume = |rows|,
    map-side partial min applies."""
    ordered = F.struct(F.col(time_col), F.col(tiebreak_col))
    others = [c for c in events.columns if c not in key_cols]
    agg = [F.min_by(F.col(c), ordered).alias(c) for c in others]
    return events.groupBy(*key_cols).agg(*agg).select(*events.columns)

