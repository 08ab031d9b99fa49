"""Stage boundary: cut a pipeline frame's lineage between stages.

A shear frame carries a deep lineage (interp joins, windows, regrid), and
the driver re-analyzes that whole logical plan for every downstream
action, even when the data itself is cached. Measured on local[32] at
N=32 missions (20 dives each): the velocity stage took 183 s on the raw
lineage vs 14 s after truncation, and the grid stage 40 s vs 3 s — pure
single-threaded driver time, invisible to executor metrics and growing
with the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def stage_boundary(df: DataFrame) -> DataFrame:
    """``df`` materialized by an eager ``localCheckpoint``: every downstream
    plan starts from a flat scan of executor blocks (guide §5 / §3.3
    "materialise an intermediate to truncate the plan"). Used at the
    shear → grid/velocity seam, for one mission or a keyed fleet, and by
    ``velocity_from_shear`` for its DAC glider."""
    return df.localCheckpoint(eager=True)
