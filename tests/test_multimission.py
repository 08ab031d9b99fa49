"""Multi-mission partitioning: two missions with OVERLAPPING clocks in one
DataFrame, processed with options['mission_col'], must reproduce each
single-mission result exactly (no cross-mission window leakage) — the
100 TB shape is many missions, not one long one."""

from __future__ import annotations

import functools

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from seaexplorertools_spark.pipeline import default_options, shear_from_adcp
from seaexplorertools_spark.pipeline.velocity import get_dac, surface_drift
from tests.mission_fixture import make_mission


def _mission(spark, seed, mission_id, prof_offset, top_mounted=False):
    """One 3-dive mission, every input tagged with ``mission``. With
    ``top_mounted`` the magnetometer Z is negated, so the orientation
    detect reads the mission as top-mounted."""
    glider_pd, ping_pd, cells_pd, bt_pd, attrs = make_mission(n_dives=3, seed=seed)
    glider_pd = glider_pd.assign(profile_number=glider_pd["profile_number"] + prof_offset)
    if top_mounted:
        ping_pd = ping_pd.assign(magnetometer_z=-ping_pd["magnetometer_z"])
    glider, ping, cells = (
        spark.createDataFrame(pdf).withColumn("mission", F.lit(mission_id))
        for pdf in (glider_pd, ping_pd, cells_pd)
    )
    return glider, ping, cells, attrs


def _solo(glider, ping, cells, attrs, options):
    """shear_from_adcp over one mission's inputs with the tag dropped."""
    untagged = [df.drop("mission") for df in (cells, ping, glider)]
    return shear_from_adcp(*untagged, attrs, dict(options))


@pytest.fixture(scope="module")
def two_missions(spark):
    a = _mission(spark, 7, "A", 0)
    b = _mission(spark, 11, "B", 1000)
    return a, b


def _dac_map(df, with_mission):
    cols = ["time_us", "dac_e", "dac_n", "speed_e"]
    if with_mission:
        cols = ["mission"] + cols
    out = {}
    for r in df.select(*cols).collect():
        key = (r["mission"], r["time_us"]) if with_mission else r["time_us"]
        out[key] = (r["dac_e"], r["dac_n"], r["speed_e"])
    return out


def test_get_dac_mission_isolation(spark, two_missions):
    (ga, pa, ca, attrs), (gb, pb, cb, _) = two_missions
    base = default_options()
    base["correctADCPHeading"] = False

    # single-mission runs (global windows)
    _, ping_a, opts_a = _solo(ga, pa, ca, attrs, base)
    _, ping_b, opts_b = _solo(gb, pb, cb, attrs, base)
    solo_a = _dac_map(get_dac(ping_a, ga.drop("mission"), opts_a), False)
    solo_b = _dac_map(get_dac(ping_b, gb.drop("mission"), opts_b), False)

    # combined run partitioned by mission (clocks overlap!)
    combined_glider = ga.unionByName(gb)
    combined_ping = ping_a.withColumn("mission", F.lit("A")).unionByName(
        ping_b.withColumn("mission", F.lit("B"))
    )
    opts = dict(opts_a)
    opts["mission_col"] = "mission"
    both = _dac_map(get_dac(combined_ping, combined_glider, opts), True)

    assert len(both) == len(solo_a) + len(solo_b)
    for t, want in solo_a.items():
        got = both[("A", t)]
        for g, w in zip(got, want):
            assert (g is None and w is None) or g == pytest.approx(w, rel=1e-12), t
    for t, want in solo_b.items():
        got = both[("B", t)]
        for g, w in zip(got, want):
            assert (g is None and w is None) or g == pytest.approx(w, rel=1e-12), t


def test_surface_drift_mission_isolation(spark, two_missions):
    (ga, pa, ca, attrs), (gb, pb, cb, _) = two_missions
    base = default_options()
    base["correctADCPHeading"] = False
    _, ping_a, opts_a = _solo(ga, pa, ca, attrs, base)
    solo = {
        r["diveNum"]: (r["drift_e"], r["drift_n"])
        for r in surface_drift(ga.drop("mission"), opts_a).collect()
    }
    combined = ga.unionByName(gb)
    opts = dict(opts_a)
    opts["mission_col"] = "mission"
    both = {
        (r["mission"], r["diveNum"]): (r["drift_e"], r["drift_n"])
        for r in surface_drift(combined, opts).collect()
    }
    for d, want in solo.items():
        got = both[("A", d)]
        for g, w in zip(got, want):
            assert (g is None and w is None) or g == pytest.approx(w, rel=1e-12), d


def test_velocity_from_shear_mission_isolation(spark, two_missions):
    """Full stage 3 end-to-end with mission_col: per-mission ADCP_E/N equal
    the single-mission runs exactly (incl. per-mission bias fits and
    partitioned bottom-track matching with overlapping clocks)."""
    from seaexplorertools_spark.pipeline import velocity_from_shear

    (ga, pa, ca, attrs), (gb, pb, cb, _) = two_missions
    base = default_options()
    base["correctADCPHeading"] = False

    grids, pings = {}, {}
    solo = {}
    for mid, (g, p, c) in {"A": (ga, pa, ca), "B": (gb, pb, cb)}.items():
        gridded, ping_aug, opts = _solo(g, p, c, attrs, base)
        gridded = gridded.cache()
        grids[mid], pings[mid] = gridded, ping_aug
        out = velocity_from_shear(gridded, ping_aug, g.drop("mission"), None, opts)
        solo[mid] = {
            (r["profile_num"], r["depth_bin"]): (r["ADCP_E"], r["ADCP_N"])
            for r in out.select("profile_num", "depth_bin", "ADCP_E", "ADCP_N").collect()
        }

    combined_glider = ga.unionByName(gb)
    combined_ping = pings["A"].withColumn("mission", F.lit("A")).unionByName(
        pings["B"].withColumn("mission", F.lit("B"))
    )
    combined_cells = grids["A"].unionByName(grids["B"])
    opts = dict(base)
    opts["mission_col"] = "mission"
    both = velocity_from_shear(combined_cells, combined_ping, combined_glider, None, opts)
    got = {
        (r["profile_num"], r["depth_bin"]): (r["ADCP_E"], r["ADCP_N"])
        for r in both.select("profile_num", "depth_bin", "ADCP_E", "ADCP_N").collect()
    }

    want = {**solo["A"], **solo["B"]}
    assert got.keys() == want.keys()
    n_checked = 0
    for k, (we, wn) in want.items():
        ge, gn = got[k]
        if we is None:
            assert ge is None, k
        else:
            assert ge == pytest.approx(we, rel=1e-9, abs=1e-12), k
            n_checked += 1
        if wn is None:
            assert gn is None, k
        else:
            assert gn == pytest.approx(wn, rel=1e-9, abs=1e-12), k
    assert n_checked > 50


def _unpartitioned_windows(df) -> int:
    """Count window specs with NO partition key in the formatted physical
    plan (the scripts/audit_plans.py detector)."""
    import re

    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    n = 0
    for spec in re.findall(r"windowspecdefinition\((.*?)specifiedwindowframe", plan):
        head = [a.strip() for a in spec.split(",") if a.strip()]
        if not any((" ASC" not in a and " DESC" not in a) for a in head):
            n += 1
    return n


def test_mission_partitioned_plans_have_no_global_windows(spark, two_missions):
    """With options['mission_col'] set, EVERY window in the shear, DAC and
    referencing plans must carry a partition key — a single unpartitioned
    window would serialize the whole fleet of missions through one task."""
    from seaexplorertools_spark.pipeline.velocity import reference_shear

    (ga, pa, ca, attrs), (gb, pb, cb, _) = two_missions
    opts = default_options()
    opts["mission_col"] = "mission"
    glider = ga.unionByName(gb)
    gridded, ping_aug, opts = shear_from_adcp(
        ca.unionByName(cb), pa.unionByName(pb), glider, attrs, opts
    )
    assert _unpartitioned_windows(gridded) == 0
    dac = get_dac(ping_aug, glider, opts)
    assert _unpartitioned_windows(dac) == 0
    ref = reference_shear(gridded, dac, opts)
    assert _unpartitioned_windows(ref) == 0


GRIDDED = ["v1", "v2", "v3", "v4", "e", "n", "u", "sh_e", "sh_n", "sh_u", "depth_offset"]


def _by_ping(df, cols, keys=("time_us", "gridded_bin")):
    rows = df.select(*keys, *cols).collect()
    return {tuple(r[k] for k in keys): tuple(r[c] for c in cols) for r in rows}


def _assert_same(got, want):
    assert got.keys() == want.keys()
    for k, w in want.items():
        for g, x in zip(got[k], w):
            assert (g is None and x is None) or g == pytest.approx(x, rel=1e-9, abs=1e-12), k


def _keyed_vs_solo(missions, options):
    """Shear of ``missions`` ({id: (glider, ping, cells, attrs)}) in ONE
    keyed run and each solo; returns {id: ((keyed gridded, keyed
    ping_aug), (solo gridded, solo ping_aug))}, keyed frames filtered to
    the mission."""
    frames = list(missions.values())
    union = [functools.reduce(DataFrame.unionByName, [m[i] for m in frames]) for i in range(3)]
    keyed = shear_from_adcp(
        union[2], union[1], union[0], frames[0][3], {**options, "mission_col": "mission"}
    )
    out = {}
    for mid, inputs in missions.items():
        mine = [df.filter(F.col("mission") == mid) for df in keyed[:2]]
        out[mid] = (mine, _solo(*inputs, options)[:2])
    return out


def test_mixed_mount_fleet_matches_solo(spark, two_missions):
    """A fleet of a bottom-mounted and a top-mounted mission (magnetometer Z
    negated) in one keyed shear run: each mission gets its own mount sign,
    and its regridded beams, ENU, shear and heading equal its solo run."""
    (ga, pa, ca, attrs), _ = two_missions
    top = _mission(spark, 11, "T", 1000, top_mounted=True)
    options = default_options()  # heading correction on: the sign enters mag_heading too
    runs = _keyed_vs_solo({"A": (ga, pa, ca, attrs), "T": top}, options)
    for mid, sign in (("A", -1.0), ("T", 1.0)):
        (k_grid, k_ping), (s_grid, s_ping) = runs[mid]
        assert {r[0] for r in k_grid.select("mount_sign").distinct().collect()} == {sign}
        _assert_same(_by_ping(k_grid, GRIDDED), _by_ping(s_grid, GRIDDED))
        _assert_same(
            _by_ping(k_ping, ["heading", "mount_sign"], ("time_us",)),
            _by_ping(s_ping, ["heading", "mount_sign"], ("time_us",)),
        )
    # the top-mounted ladder points up: positive depth offsets
    (k_grid, _), _ = runs["T"]
    assert k_grid.agg(F.min("depth_offset")).first()[0] == 0.0


def test_geomag_keyed_fit_matches_solo(spark, two_missions):
    """With a geomag target, the compass is fitted per mission: the keyed
    2-mission run's corrected heading equals each mission's solo fit, and
    differs from the uncalibrated heading."""
    (ga, pa, ca, attrs), (gb, pb, cb, _) = two_missions
    options = default_options()
    options["geomag_target"] = 400.0
    runs = _keyed_vs_solo({"A": (ga, pa, ca, attrs), "B": (gb, pb, cb, attrs)}, options)
    identity = _solo(ga, pa, ca, attrs, default_options())[1]
    for mid in ("A", "B"):
        (_, k_ping), (_, s_ping) = runs[mid]
        got = _by_ping(k_ping, ["heading"], ("time_us",))
        _assert_same(got, _by_ping(s_ping, ["heading"], ("time_us",)))
    raw = _by_ping(identity, ["heading"], ("time_us",))
    fitted = _by_ping(runs["A"][0][1], ["heading"], ("time_us",))
    # headings are NULL where the declination is (pings outside the glider hull)
    diffs = [abs(fitted[t][0] - raw[t][0]) for t in raw if raw[t][0] is not None]
    assert len(diffs) > 100 and max(diffs) > 1e-3
