#!/usr/bin/env python
"""Fleet e2e bench — measures the SCALING.md claim "at 100 TB the
parallelism axis is missions" instead of asserting it.

Architecture under test (the same composition tests/test_pipeline_scale.py
pins for correctness): a fleet is ONE keyed set of sources — each input
table holds every mission, tagged with a ``mission`` column — and the
whole pipeline runs as one lazy plan per stage with
``options['mission_col']`` keying every join, window and shuffle:
shear → ``stage_boundary`` → grid → velocity. One mission is a fleet of
one; no per-mission plan is ever built.

If the keyed windows/joins really partition by mission, wall time
should stay near-flat while N scales — the single-mission scheduling
floor (velocity's ~20 sequential tiny stages) amortizes across the
fleet. A slope near N would mean the engine serializes missions: the
scale-killer this bench exists to catch.

Usage:
    python scripts/fleet_bench.py [N ...]        # default: 1 8 32
    python scripts/fleet_bench.py --parity       # 2-mission fleet result
        parity vs solo runs (reference tolerance) instead of timing

Prints ONE JSON line: {"metric": "pipeline_e2e_fleet", "missions":
{"1": {...}, "8": {...}, "32": {...}}, ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_DIVES = 20
BUCKET_US = 3600e6  # 1 h — far above the ~10 s sample gap, so exact


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def build_fleet(spark, n_missions: int) -> dict:
    """N distinct 20-dive missions (seeded fixtures, mission-unique
    profile_number ranges) as one keyed set of sources: each input's
    pandas frames concatenated with a ``mission`` column, then one
    ``createDataFrame`` per input. Driver-side pandas — excluded from the
    timed section. ``attrs`` is shared: every fixture mission has the same
    cell size and blanking distance."""
    import pandas as pd

    from tests.mission_fixture import make_mission

    parts = {"glider": [], "ping": [], "cells": [], "bt": []}
    for k in range(n_missions):
        glider_pd, ping_pd, cells_pd, bt_pd, attrs = make_mission(
            n_dives=N_DIVES, seed=7 + k
        )
        glider_pd = glider_pd.assign(profile_number=glider_pd["profile_number"] + 1000 * k)
        for name, pdf in zip(parts, (glider_pd, ping_pd, cells_pd, bt_pd)):
            parts[name].append(pdf.assign(mission=k))
    fleet = {
        name: spark.createDataFrame(pd.concat(frames, ignore_index=True))
        for name, frames in parts.items()
    }
    fleet["attrs"] = attrs
    return fleet


def base_options():
    from seaexplorertools_spark.pipeline import default_options

    options = default_options()
    options["correctADCPHeading"] = False
    options["mission_col"] = "mission"
    # bucketed interp joins: the windows partition by (mission, time
    # bucket), and the bucket is far above the sample gap so results are
    # exact (parity-pinned)
    options["interp_bucket"] = BUCKET_US
    return options


def run_fleet(spark, fleet: dict, timed: bool = True):
    """One full fleet pass. Returns (wall, stages) when ``timed``, else
    the keyed velocity grid as pandas (parity mode)."""
    from seaexplorertools_spark.caching import release_consistency_caches
    from seaexplorertools_spark.pipeline import (
        grid_shear,
        shear_from_adcp,
        stage_boundary,
        velocity_from_shear,
    )

    glider, bt = fleet["glider"], fleet["bt"]
    t0 = time.time()
    gridded, ping_aug, opts = shear_from_adcp(
        fleet["cells"], fleet["ping"], glider, fleet["attrs"], base_options()
    )
    # the shear stage's compute, materialized once at the seam
    gridded = stage_boundary(gridded)
    t1 = time.time()
    ping_aug = stage_boundary(ping_aug)
    t1b = time.time()
    try:
        if not timed:
            out = velocity_from_shear(gridded, ping_aug, glider, bt, opts)
            return out.select(
                "mission", "profile_num", "depth_bin", "ADCP_E", "ADCP_N"
            ).toPandas()
        _noop(grid_shear(gridded, ping_aug, glider, opts))
        t2 = time.time()
        _noop(velocity_from_shear(gridded, ping_aug, glider, bt, opts))
        t3 = time.time()
    finally:
        release_consistency_caches()
    return t3 - t0, {
        "shear": t1 - t0,
        "boundary": t1b - t1,
        "grid": t2 - t1b,
        "velocity": t3 - t2,
    }


def time_fleet(spark, sizes: list[int], runs: int = 3) -> dict:
    out = {}
    for n in sizes:
        fleet = build_fleet(spark, n)
        samples, stage_runs = [], []
        for r in range(runs + 1):  # first run = warmup
            wall, stages = run_fleet(spark, fleet)
            if r:
                samples.append(wall)
                stage_runs.append(stages)
        samples_sorted = sorted(samples)
        med = samples_sorted[len(samples_sorted) // 2]
        med_idx = samples.index(med)
        out[str(n)] = {
            "wall_sec": round(med, 3),
            "spread": round(samples_sorted[-1] - samples_sorted[0], 3),
            "stages": {k: round(v, 3) for k, v in stage_runs[med_idx].items()},
        }
        print(f"# fleet n={n}: {out[str(n)]}", file=sys.stderr)
    return out


def parity(spark) -> int:
    """2-mission keyed fleet (bt included) vs each mission's solo run
    (unkeyed, no bucket) at the reference e2e tolerance (atol=1e-7,
    rtol=1e-3) — the full-pipeline twin of tests/test_pipeline_scale.py."""
    import numpy as np
    from pyspark.sql import functions as F

    from seaexplorertools_spark.pipeline import (
        default_options,
        shear_from_adcp,
        velocity_from_shear,
    )

    fleet = build_fleet(spark, 2)
    solo = {}
    for k in range(2):
        one = {
            name: fleet[name].filter(F.col("mission") == k).drop("mission")
            for name in ("glider", "ping", "cells", "bt")
        }
        options = default_options()
        options["correctADCPHeading"] = False
        gridded, ping_aug, opts = shear_from_adcp(
            one["cells"], one["ping"], one["glider"], fleet["attrs"], options
        )
        out = velocity_from_shear(gridded, ping_aug, one["glider"], one["bt"], opts)
        for r in out.select("profile_num", "depth_bin", "ADCP_E", "ADCP_N").collect():
            if r["profile_num"] is not None and r["depth_bin"] is not None:
                solo[(k, r["profile_num"], r["depth_bin"])] = (r["ADCP_E"], r["ADCP_N"])

    got_pd = run_fleet(spark, fleet, timed=False)
    got = {
        (r.mission, r.profile_num, r.depth_bin): (r.ADCP_E, r.ADCP_N)
        for r in got_pd.itertuples()
        if r.profile_num is not None and r.depth_bin is not None
    }
    keys = sorted(solo)
    missing = [k for k in keys if k not in got]
    assert not missing, f"{len(missing)} solo grid keys missing from fleet run"

    def arr(d, i):
        return np.array(
            [np.nan if d[k][i] is None else d[k][i] for k in keys], dtype=float
        )

    ok = True
    for i, name in enumerate(("ADCP_E", "ADCP_N")):
        s, g = arr(solo, i), arr(got, i)
        if not np.allclose(g, s, atol=1e-7, rtol=1e-3, equal_nan=True):
            bad = (~np.isclose(g, s, atol=1e-7, rtol=1e-3, equal_nan=True)).sum()
            print(f"PARITY FAIL {name}: {bad}/{len(s)} cells differ")
            ok = False
    print(f"parity: {'PASS' if ok else 'FAIL'} over {len(keys)} grid cells")
    return 0 if ok else 1


def main() -> int:
    from seaexplorertools_spark.session import get_spark

    spark = get_spark("fleet_bench")
    spark.range(1000000).selectExpr("sum(id)").collect()  # JVM warmup
    args = sys.argv[1:]
    if args and args[0] == "--parity":
        return parity(spark)
    sizes = [int(a) for a in args] or [1, 8, 32]
    fleet = time_fleet(spark, sizes)
    record = {
        "metric": "pipeline_e2e_fleet",
        "unit": "sec",
        "missions": fleet,
        "n_dives_per_mission": N_DIVES,
        "mode": "warm (1 warmup + median of 3; one keyed plan per stage "
        "with mission_col + bucketed interp joins; bottom track included)",
    }
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
