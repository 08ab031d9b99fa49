"""interp_bucket scale mode inside the pipeline: bucketed time-alignment
must reproduce the default global alignment exactly (bucket ≫ sample gap)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from seaexplorertools_spark.pipeline import default_options
from seaexplorertools_spark.pipeline.shear import align_glider_to_pings
from tests.mission_fixture import make_mission


def test_bucketed_alignment_matches_global(spark):
    glider_pd, ping_pd, cells_pd, bt_pd, attrs = make_mission(n_dives=3)
    glider = spark.createDataFrame(glider_pd)
    ping = spark.createDataFrame(ping_pd)

    base = default_options()
    a = align_glider_to_pings(ping, glider, dict(base))

    bucketed = dict(base)
    bucketed["interp_bucket"] = 3600e6  # 1 h in µs — ≫ the 10 s cadence
    b = align_glider_to_pings(ping, glider, bucketed)

    cols = ["latitude", "longitude", "salinity", "profile_number", "depth"]
    av = {r["time_us"]: tuple(r[c] for c in cols) for r in a.select("time_us", *cols).collect()}
    bv = {r["time_us"]: tuple(r[c] for c in cols) for r in b.select("time_us", *cols).collect()}
    assert av.keys() == bv.keys()
    for t in av:
        for x, y in zip(av[t], bv[t]):
            assert (x is None and y is None) or x == pytest.approx(y, rel=1e-12), t
