"""Larger-scale multi-mission e2e: ~10× the standard fixture (3 missions ×
20 dives), overlapping clocks, ``mission_col`` partitioning of every
stage (shear included) AND the ``interp_bucket`` scale mode engaged
together. Per-mission results must match each solo run within the
reference's own e2e tolerance regime (atol=1e-7, rtol=1e-3, equal_nan —
tests/test_adcp_processing.py:48)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from seaexplorertools_spark.pipeline import (
    default_options,
    shear_from_adcp,
    velocity_from_shear,
)
from tests.mission_fixture import make_mission

N_DIVES = 20
MISSIONS = {"A": (7, 0), "B": (11, 1000), "C": (13, 2000)}
BUCKET_US = 3600e6  # 1 h in µs — far above the ~10 s sample gap, so exact


@pytest.fixture(scope="module")
def runs(spark):
    """Each mission solo (unkeyed), then all three in ONE keyed run: one
    shear plan and one velocity plan over sources tagged with a
    ``mission`` column."""
    base = default_options()
    base["correctADCPHeading"] = False

    solo, keyed = {}, {"glider": [], "ping": [], "cells": []}
    for mid, (seed, prof_offset) in MISSIONS.items():
        glider_pd, ping_pd, cells_pd, bt_pd, attrs = make_mission(
            n_dives=N_DIVES, seed=seed
        )
        glider_pd = glider_pd.assign(profile_number=glider_pd["profile_number"] + prof_offset)
        glider = spark.createDataFrame(glider_pd)
        ping = spark.createDataFrame(ping_pd)
        cells = spark.createDataFrame(cells_pd)
        gridded, ping_aug, opts = shear_from_adcp(cells, ping, glider, attrs, dict(base))
        out = velocity_from_shear(gridded.cache(), ping_aug, glider, None, opts)
        solo[mid] = {
            (r["profile_num"], r["depth_bin"]): (r["ADCP_E"], r["ADCP_N"])
            for r in out.select("profile_num", "depth_bin", "ADCP_E", "ADCP_N").collect()
            if r["profile_num"] is not None and r["depth_bin"] is not None
        }
        for name, pdf in zip(keyed, (glider_pd, ping_pd, cells_pd)):
            keyed[name].append(pdf.assign(mission=mid))

    glider, ping, cells = (
        spark.createDataFrame(pd.concat(keyed[n], ignore_index=True))
        for n in ("glider", "ping", "cells")
    )
    opts = dict(base)
    opts["mission_col"] = "mission"
    opts["interp_bucket"] = BUCKET_US  # bucketed union-window interp joins
    gridded, ping_aug, opts = shear_from_adcp(cells, ping, glider, attrs, opts)
    both = velocity_from_shear(gridded.cache(), ping_aug, glider, None, opts)
    got = {}
    for r in both.select("mission", "profile_num", "depth_bin", "ADCP_E", "ADCP_N").collect():
        # NULL grid keys are out-of-range bucket artifacts of the full join
        # (no velocity content) — excluded from the parity comparison
        if r["profile_num"] is not None and r["depth_bin"] is not None:
            got[(r["mission"], r["profile_num"], r["depth_bin"])] = (r["ADCP_E"], r["ADCP_N"])
    return solo, got


def test_scale10_mission_isolation_reference_tolerance(runs):
    solo, got = runs
    n_rows = sum(len(v) for v in solo.values())
    assert n_rows > 2500  # ~10× the standard fixture's grid
    assert len(got) == n_rows

    def arr(d, keys, i):
        return np.array(
            [np.nan if d[k][i] is None else d[k][i] for k in keys], dtype=float
        )

    for mid, want in solo.items():
        keys = sorted(want)
        got_keys = [(mid, p, d) for p, d in keys]
        assert all(k in got for k in got_keys)
        for i, name in enumerate(("ADCP_E", "ADCP_N")):
            w = arr(want, keys, i)
            g = arr({k[1:]: got[k] for k in got_keys}, keys, i)
            # the reference's e2e gate: np.allclose(atol=1e-7, rtol=1e-3)
            assert np.allclose(g, w, atol=1e-7, rtol=1e-3, equal_nan=True), (mid, name)
        assert np.isfinite(arr(want, keys, 0)).sum() > 300, mid


def test_fleet_full_pipeline_parity(spark):
    """The fleet architecture of scripts/fleet_bench.py — one keyed plan
    per stage over keyed sources — including the BOTTOM-TRACK input this
    module's 3-mission test leaves out: a 2-mission fleet must reproduce
    each solo run at the reference e2e tolerance."""
    from scripts.fleet_bench import parity

    assert parity(spark) == 0
