"""Pipeline-stage tests vs numpy mini-implementations of the reference math
(reference: /root/reference/seaexplorertools/process_adcp.py)."""

from __future__ import annotations

import uuid

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from seaexplorertools_spark.pipeline import (
    default_options,
    grid_shear,
    shear_from_adcp,
    velocity_from_shear,
)
from tests.mission_fixture import make_mission


@pytest.fixture(scope="module")
def mission(spark):
    glider_pd, ping_pd, cells_pd, bt_pd, attrs = make_mission()
    glider = spark.createDataFrame(glider_pd)
    ping = spark.createDataFrame(ping_pd)
    cells = spark.createDataFrame(cells_pd)
    bt = spark.createDataFrame(bt_pd)
    return glider_pd, ping_pd, cells_pd, bt_pd, attrs, glider, ping, cells, bt


@pytest.fixture(scope="module")
def stage1(mission):
    glider_pd, ping_pd, cells_pd, bt_pd, attrs, glider, ping, cells, bt = mission
    options = default_options()
    options["correctADCPHeading"] = False  # no geomag target offline
    gridded, ping_aug, options = shear_from_adcp(cells, ping, glider, attrs, options)
    gridded = gridded.cache()
    return gridded, ping_aug, options


def test_orientation_autodetect(stage1):
    """magnetometer_z > 0 in the fixture → bottom-mounted: every ping and
    every gridded cell carries mount_sign −1."""
    gridded, ping_aug, _ = stage1
    for df in (ping_aug, gridded):
        signs = {r[0] for r in df.select("mount_sign").distinct().collect()}
        assert signs == {-1.0}


def test_shear_plan_runs_no_job(spark, mission):
    """Building shear_from_adcp submits no Spark job, with or without a
    geomag target: orientation, ladder and compass fit are lazy
    per-mission tables in the plan."""
    glider, ping, cells, attrs = mission[5], mission[6], mission[7], mission[4]
    for target in (None, 400.0):
        options = {**default_options(), "geomag_target": target}
        _, n_jobs = _jobs_in(spark, lambda: shear_from_adcp(cells, ping, glider, attrs, options))
        assert n_jobs == 0, target


def test_stage1_shapes(stage1, mission):
    gridded, ping_aug, options = stage1
    ping_pd = mission[1]
    n_pings = len(ping_pd)
    rows = gridded.count()
    n_off = rows // n_pings
    assert rows == n_pings * n_off and n_off > 3
    finite = gridded.filter(F.col("sh_e").isNotNull()).count()
    assert finite > 0


def test_regrid_matches_reference_interp(stage1, mission):
    """Per-ping regrid vs direct reference semantics (regridADCPdata
    :928-946: interp1d over finite cells, NaN outside hull)."""
    gridded, ping_aug, options = stage1
    glider_pd, ping_pd, cells_pd = mission[0], mission[1], mission[2]
    attrs = mission[4]

    sample = gridded.filter(F.col("gridded_bin") >= 0).limit(0)  # schema touch
    offs = np.array(sorted(r["depth_offset"] for r in gridded.select("depth_offset").distinct().collect()))
    some_pings = [r["time_us"] for r in gridded.select("time_us").distinct().limit(5).collect()]
    got = (
        gridded.filter(F.col("time_us").isin(some_pings))
        .select("time_us", "depth_offset", "v1", "pitch", "roll", "depth")
        .toPandas()
    )
    ping_idx = ping_pd.set_index("time_us")
    cell_groups = cells_pd.groupby("time_us")
    cs, bl = attrs["avg_cellSize"], attrs["avg_blankingDistance"]
    for tu in some_pings:
        grp = cell_groups.get_group(tu).sort_values("bin")
        prow = ping_idx.loc[tu]
        pitch, roll = got[got.time_us == tu]["pitch"].iloc[0], got[got.time_us == tu]["roll"].iloc[0]
        rng_ = bl + (grp["bin"].to_numpy() + 0.5) * cs
        # bottom-mounted beam-1 theta (reference :233-237) and x = Depth - D1
        theta1 = np.arccos(np.cos(np.radians(47.5 + pitch)) * np.cos(np.radians(roll)))
        x = -1.0 * rng_ * np.cos(theta1) * -1.0  # Depth - D1 = direction*rng*cos(theta); direction=-1
        x = -rng_ * np.cos(theta1)
        # soundspeed-corrected velocity: engine corrected before regrid; compare
        # against engine's own pre-regrid values via ratio
        # ratio = glider_soundspeed/1481; use engine output invariant instead:
        sub = got[got.time_us == tu].sort_values("depth_offset")
        per_off = dict(zip(sub["depth_offset"], sub["v1"]))
        y = grp["velocity_beam1"].to_numpy()
        # engine applied soundspeed ratio (F6) then QC (P3) — same order here
        ratio = (
            np.interp(tu, glider_pd["time_us"], glider_pd["soundspeed"]) / 1481.0
        )
        y = y * ratio
        corr = grp["correlation_beam1"].to_numpy()
        amp = grp["amplitude_beam1"].to_numpy()
        y = np.where((corr < 70) | (amp > 75) | (np.abs(y) > 0.8), np.nan, y)
        gd = np.isfinite(x) & np.isfinite(y)
        order = np.argsort(x[gd], kind="stable")
        xs, ys = x[gd][order], y[gd][order]
        for o in offs:
            want = np.nan
            if len(xs) > 1 and xs[0] <= o <= xs[-1]:
                want = np.interp(o, xs, ys)
            got_v = per_off.get(o, np.nan)
            if np.isnan(want):
                assert got_v is None or np.isnan(got_v), (tu, o, got_v)
            else:
                assert got_v is not None and got_v == pytest.approx(want, rel=1e-6), (tu, o, got_v, want)


def test_enu_matches_numpy(stage1):
    """F5 rotation vs the reference M_xyz2enu formula (:1134-1146)."""
    gridded, _, _ = stage1
    rows = (
        gridded.filter(F.col("x").isNotNull() & F.col("e").isNotNull())
        .select("x", "y", "z", "heading", "pitch", "roll", "e", "n", "u", "mount_sign")
        .limit(50)
        .collect()
    )
    assert rows
    for r in rows:
        d = r.mount_sign
        hh = np.pi * (r.heading - 90) / 180
        pp = np.pi * r.pitch / 180
        rr = np.pi * r.roll / 180
        m = [
            [np.cos(hh) * np.cos(pp), -np.cos(hh) * np.sin(pp) * np.sin(rr) + np.sin(hh) * np.cos(rr),
             -np.cos(hh) * np.sin(pp) * np.cos(rr) - np.sin(hh) * np.sin(rr)],
            [-np.sin(hh) * np.cos(pp), np.sin(hh) * np.sin(pp) * np.sin(rr) + np.cos(hh) * np.cos(rr),
             np.sin(hh) * np.sin(pp) * np.cos(rr) - np.cos(hh) * np.sin(rr)],
            [np.sin(pp), np.cos(pp) * np.sin(rr), np.cos(pp) * np.cos(rr)],
        ]
        e = m[0][0] * r.x + m[0][1] * r.y * d + m[0][2] * r.z * d
        n = m[1][0] * r.x + m[1][1] * r.y * d + m[1][2] * r.z * d
        u = m[2][0] * r.x + m[2][1] * r.y * d + m[2][2] * r.z * d
        assert e == pytest.approx(r.e, rel=1e-9)
        assert n == pytest.approx(r.n, rel=1e-9)
        assert u == pytest.approx(r.u, rel=1e-9)


def test_shear_is_central_difference(stage1):
    """W2: Sh_E == central diff of E over gridded_bin index (reference
    differentiate('gridded_bin') :1186-1189)."""
    gridded, _, _ = stage1
    one_ping = gridded.select("time_us").distinct().limit(1).collect()[0][0]
    pdf = (
        gridded.filter(F.col("time_us") == one_ping)
        .select("gridded_bin", "e", "sh_e")
        .orderBy("gridded_bin")
        .toPandas()
    )
    e = pdf["e"].to_numpy(float)
    if np.isfinite(e).all() and len(e) > 2:
        want = np.gradient(e)
        assert np.allclose(pdf["sh_e"].to_numpy(float), want, equal_nan=True)


def test_grid_shear_runs(stage1, mission):
    gridded, ping_aug, options = stage1
    glider = mission[5]
    out = grid_shear(gridded, ping_aug, glider, options)
    pdf = out.toPandas()
    assert {"Sh_E", "Sh_N", "Sh_U", "Heading", "salinity", "profile_num", "depth_bin"} <= set(pdf.columns)
    assert len(pdf) > 50
    assert pdf["Sh_E"].notna().any()


def test_velocity_from_shear_runs(stage1, mission):
    gridded, ping_aug, options = stage1
    glider, bt = mission[5], mission[8]
    out = velocity_from_shear(gridded, ping_aug, glider, bt, options)
    pdf = out.toPandas()
    assert {"ADCP_E", "ADCP_N", "profile_num", "depth_bin"} <= set(pdf.columns)
    assert pdf["ADCP_E"].notna().any()
    # baroclinic + reference structure: each profile's velocity is finite and
    # bounded by the synthetic current scale
    assert np.nanmax(np.abs(pdf["ADCP_E"].to_numpy(float))) < 5.0


def test_reference_shear_matches_numpy(stage1, mission):
    """reference_shear vs a literal numpy replication of the reference
    formulas (:1658-1717): V = per-profile demeaned cumsum of gridded shear;
    SpB = y_res/dPdz with inf→0, NaN preserved, clipped at the GLOBAL
    population σ (np.nanstd ddof=0, flattened grid); Ref = nanmean(DAC) −
    nansum(V·SpB)/nansum(SpB) with the denominator summed unconditionally.
    Independent of the engine's own window formulation — catches clip-scope
    or denominator drift the self-consistent golden cannot."""
    gridded, ping_aug, options = stage1
    glider = mission[5]
    from seaexplorertools_spark.pipeline import gridding
    from seaexplorertools_spark.pipeline.velocity import get_dac, reference_shear

    # this replication floor-buckets the FULL domain — run the engine in
    # its "full" grid mode; the reference-domain (pd.cut) math is proven
    # end-to-end by tests/test_reference_replay.py
    options = {**options, "grid_domain": "full"}
    y_res = float(options.get("y_res", 1.0))
    gl_aug = get_dac(ping_aug, glider, options).cache()
    out = reference_shear(gridded, gl_aug, options).toPandas()
    out = out.dropna(subset=["profile_num", "depth_bin"])

    sh = gridding.grid_cells(gridded, y_res).toPandas()
    glp = gl_aug.select(
        "profile_number", "pressure", "dac_e", "dac_n", "speed_vert"
    ).toPandas()
    glp["p"] = np.floor(glp["profile_number"].to_numpy(float))
    glp["d"] = np.floor(glp["pressure"].to_numpy(float) / y_res)
    gg = glp.groupby(["p", "d"]).agg(
        dac_e=("dac_e", "mean"), dac_n=("dac_n", "mean"), dpdz=("speed_vert", "mean")
    )

    profs = sorted(set(sh["profile_num"].dropna()) | {int(p) for p, _ in gg.index})
    depths = sorted(set(sh["depth_bin"].dropna()) | {int(d) for _, d in gg.index})
    pi = {p: j for j, p in enumerate(profs)}
    di = {d: i for i, d in enumerate(depths)}
    shape = (len(depths), len(profs))
    Sh = {L: np.full(shape, np.nan) for L in "EN"}
    DAC = {L: np.full(shape, np.nan) for L in "EN"}
    dPdz = np.full(shape, np.nan)
    for r in sh.dropna(subset=["profile_num", "depth_bin"]).itertuples():
        Sh["E"][di[r.depth_bin], pi[r.profile_num]] = (
            np.nan if r.Sh_E is None else r.Sh_E
        )
        Sh["N"][di[r.depth_bin], pi[r.profile_num]] = (
            np.nan if r.Sh_N is None else r.Sh_N
        )
    for (p, d), row in gg.iterrows():
        DAC["E"][di[int(d)], pi[int(p)]] = row["dac_e"]
        DAC["N"][di[int(d)], pi[int(p)]] = row["dac_n"]
        dPdz[di[int(d)], pi[int(p)]] = row["dpdz"]

    with np.errstate(divide="ignore", invalid="ignore"):
        SpB = y_res / dPdz
    SpB[np.isinf(SpB)] = 0
    SpB_std = np.nanstd(SpB)
    SpB[np.abs(SpB) > SpB_std] = SpB_std

    want = {}
    for L in "EN":
        bad = ~np.isfinite(Sh[L])
        V = np.cumsum(np.nan_to_num(Sh[L]), axis=0) * y_res
        V[bad] = np.nan
        with np.errstate(invalid="ignore"):
            V = V - np.nanmean(V, axis=0)
            ref = np.nanmean(DAC[L], axis=0) - np.nansum(V * SpB, axis=0) / np.nansum(
                SpB, axis=0
            )
        want[L] = V + ref

    n_checked = 0
    for r in out.itertuples():
        i, j = di[int(r.depth_bin)], pi[int(r.profile_num)]
        for L in "EN":
            got = getattr(r, f"ADCP_{L}")
            exp = want[L][i, j]
            if got is None or (isinstance(got, float) and np.isnan(got)):
                assert not np.isfinite(exp), (r.profile_num, r.depth_bin, L, exp)
            else:
                assert np.isfinite(exp), (r.profile_num, r.depth_bin, L, got)
                assert got == pytest.approx(exp, rel=1e-6, abs=1e-9), (
                    r.profile_num, r.depth_bin, L,
                )
                n_checked += 1
    assert n_checked > 100


def test_dac_against_numpy(mission, stage1):
    """get_DAC vs a numpy mini-implementation of the reference math
    (:1327-1410) using the engine's geodesy constants."""
    glider_pd = mission[0]
    gridded, ping_aug, options = stage1
    from seaexplorertools_spark.pipeline.velocity import get_dac

    glider = mission[5]
    out = get_dac(ping_aug, glider, options).select(
        "time_us", "dac_e", "dac_n", "speed_e", "speed_n"
    ).toPandas().sort_values("time_us")

    # numpy mini-reference
    ping_pd = ping_aug.select("time_us", "heading").toPandas().sort_values("time_us")
    g = glider_pd.sort_values("time_us").reset_index(drop=True)
    t = g["time_us"].to_numpy(float) / 1e6
    hd = np.interp(g["time_us"], ping_pd["time_us"], ping_pd["heading"])
    hd[g["time_us"] < ping_pd["time_us"].min()] = np.nan
    hd[g["time_us"] > ping_pd["time_us"].max()] = np.nan
    vg_e = np.nan_to_num(g["speed_horz"] * np.sin(np.radians(hd)))
    vg_n = np.nan_to_num(g["speed_horz"] * np.cos(np.radians(hd)))
    de = np.cumsum(np.append(0, vg_e[1:] * np.diff(t)))
    dn = np.cumsum(np.append(0, vg_n[1:] * np.diff(t)))
    _gps = (g["DeadReckoning"].to_numpy() < 1) & (g["NAV_RESOURCE"].to_numpy() == 116)

    def reset(arr):
        ref = np.full_like(arr, np.nan)
        ref[_gps] = arr[_gps]
        return arr - pd.Series(ref).ffill().to_numpy()

    de, dn = reset(de), reset(dn)
    # spot-check the engine's speed_e and reset-cumsum plumbing via DAC finiteness
    assert out["dac_e"].notna().sum() > 0
    # engine speed_e matches numpy
    se = out["speed_e"].to_numpy(float)
    assert np.allclose(se, vg_e, atol=1e-9)


def _jobs_in(spark, fn):
    """Call ``fn`` under a fresh job group; return its result and the
    number of Spark jobs it submitted."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_velocity_plan_runs_only_the_dac_boundary(spark, stage1, mission):
    """velocity_from_shear ledgers no cache, and the only Spark work it does
    before the caller's action is the DAC stage boundary; calc_bias alone
    runs none. Under AQE that one boundary action is several jobs (one per
    shuffle map stage and broadcast), so the boundary's own job count is
    the reference."""
    from seaexplorertools_spark.caching import ledger_size
    from seaexplorertools_spark.pipeline import stage_boundary
    from seaexplorertools_spark.pipeline.velocity import calc_bias, get_dac, reference_shear

    gridded, ping_aug, options = stage1
    glider, bt = mission[5], mission[8]
    before = ledger_size()
    _, n_velocity = _jobs_in(
        spark, lambda: velocity_from_shear(gridded, ping_aug, glider, bt, options)
    )
    assert ledger_size() == before
    dac, n_boundary = _jobs_in(spark, lambda: stage_boundary(get_dac(ping_aug, glider, options)))
    assert n_velocity == n_boundary > 0
    grid = reference_shear(gridded, dac, options)
    _, n_fit = _jobs_in(spark, lambda: calc_bias(grid, options))
    assert n_fit == 0


def _bias_grid(rng, profiles, depths, mission):
    """Long (profile_num, depth_bin) grid of one mission, as calc_bias sees
    it, in shuffled row order. One cell per profile has ADCP_E NaN but
    ADCP_N finite; two extra rows carry NULL grid keys."""
    shape = (len(depths), len(profiles))
    dense = {
        "ADCP_E": rng.normal(0, 0.05, shape),
        "ADCP_N": rng.normal(0, 0.05, shape),
        "speed_e_g": np.abs(rng.normal(0.2, 0.05, shape)),
        "speed_n_g": np.abs(rng.normal(0.2, 0.05, shape)),
    }
    dense["speed_e_g"][rng.random(shape) < 0.1] = np.nan
    dense["ADCP_E"][rng.integers(0, len(depths), len(profiles)), np.arange(len(profiles))] = np.nan
    dd, pp = np.meshgrid(depths, profiles, indexing="ij")
    pdf = pd.DataFrame(
        {"profile_num": pp.ravel().astype(float), "depth_bin": dd.ravel().astype(float)}
        | {c: m.ravel() for c, m in dense.items()}
    )
    nulls = pd.DataFrame(
        {"profile_num": [np.nan, profiles[0]], "depth_bin": [depths[0], np.nan]}
        | {c: [0.1, 0.2] for c in dense}
    )
    pdf = pd.concat([pdf, nulls], ignore_index=True).sample(frac=1.0, random_state=1)
    pdf["mission"] = mission
    return pdf.reset_index(drop=True)


def _expected_bias(pdf):
    """ADCP_E/ADCP_N of the old driver path: drop NULL-key rows, pivot to
    (depth × profile) matrices, fit_shear_bias, apply_bias, then a left
    join of the grid against the corrected cells, whose keys are never
    NULL (NaN stands for NULL)."""
    from seaexplorertools_spark.pipeline.driverside import apply_bias, fit_shear_bias

    sub = pdf.dropna(subset=["profile_num", "depth_bin"])
    piv = [
        sub.pivot_table(index="depth_bin", columns="profile_num", values=c, dropna=False)
        for c in ("ADCP_E", "ADCP_N", "speed_e_g", "speed_n_g")
    ]
    mats = [p.reindex(index=piv[0].index, columns=piv[0].columns).to_numpy(float) for p in piv]
    e, n = apply_bias(*mats, fit_shear_bias(*mats))
    pp, dd = np.meshgrid(piv[0].columns.to_numpy(float), piv[0].index.to_numpy(float))
    cells = pd.DataFrame(
        {"profile_num": pp.ravel(), "depth_bin": dd.ravel(), "e": e.ravel(), "n": n.ravel()}
    )
    got = pdf[["profile_num", "depth_bin"]].merge(cells, how="left")
    return got["e"].to_numpy(), got["n"].to_numpy()


def _by_keys(pdf):
    keys = ["profile_num", "depth_bin"]
    return pdf.sort_values(keys, na_position="first").reset_index(drop=True)


def test_bias_fit_apply_matches_driver_fit(spark):
    """The executor fit reproduces the old driver path for two missions:
    each mission's coefficient is fit_shear_bias on that mission's pivoted
    matrices, NULL keys give NULL ADCP_E/ADCP_N, and a NaN in one
    component gives NULL in that component only. Through Spark, calc_bias
    keeps every row and every other column."""
    from seaexplorertools_spark.pipeline.velocity import _bias_fit_apply, calc_bias

    rng = np.random.default_rng(7)
    layout = {"A": (np.arange(3, 11), np.arange(0, 12)), "B": (np.arange(50, 56), np.arange(2, 9))}
    fit_apply = _bias_fit_apply()
    frames, want = [], {}
    for mid, (profiles, depths) in layout.items():
        pdf = _bias_grid(rng, profiles, depths, mid)
        e, n = _expected_bias(pdf)
        out = fit_apply((mid,), pdf)
        np.testing.assert_array_equal(out["ADCP_E"].to_numpy(), e)
        np.testing.assert_array_equal(out["ADCP_N"].to_numpy(), n)
        assert (np.isnan(e) & np.isfinite(n)).any()  # single-sided NaN cells
        pd.testing.assert_frame_equal(
            out.drop(columns=["ADCP_E", "ADCP_N"]), pdf.drop(columns=["ADCP_E", "ADCP_N"])
        )
        # rows of a NULL mission are never fitted
        assert fit_apply((None,), pdf)[["ADCP_E", "ADCP_N"]].isna().all().all()
        frames.append(pdf)
        want[mid] = pdf.assign(ADCP_E=e, ADCP_N=n)

    schema = (
        "profile_num long, depth_bin long, ADCP_E double, ADCP_N double, "
        "speed_e_g double, speed_n_g double, mission string"
    )
    grid = spark.createDataFrame(pd.concat(frames, ignore_index=True), schema)
    fitted = calc_bias(grid, {"mission_col": "mission"})
    # NaN leaves as NULL, as the old join's nan2null patch made it
    assert fitted.filter(F.isnan("ADCP_E") | F.isnan("ADCP_N")).count() == 0
    assert fitted.filter(F.col("ADCP_E").isNull() & F.col("ADCP_N").isNotNull()).count() > 0
    fleet = fitted.toPandas()
    assert len(fleet) == grid.count()
    for mid, w in want.items():
        got = fleet[fleet["mission"] == mid]
        pd.testing.assert_frame_equal(_by_keys(got), _by_keys(w), check_dtype=False)
    one = calc_bias(grid.filter(F.col("mission") == "A"), {}).toPandas()
    assert list(one.columns) == grid.columns
    pd.testing.assert_frame_equal(_by_keys(one), _by_keys(want["A"]), check_dtype=False)


def test_bias_fit_ships_by_value(tmp_path):
    """The executor function, pickled with PySpark's cloudpickle, loads and
    runs in an isolated interpreter that cannot import this package — the
    way a Python worker started outside the checkout sees it."""
    import pickle
    import subprocess
    import sys

    from pyspark import cloudpickle

    from seaexplorertools_spark.pipeline.velocity import _bias_fit_apply

    pdf = _bias_grid(np.random.default_rng(3), np.arange(1, 6), np.arange(0, 8), "A")
    fit_apply = _bias_fit_apply()
    script = (
        "import importlib.util, pickle, sys\n"
        "assert importlib.util.find_spec('seaexplorertools_spark') is None\n"
        "fn, pdf = pickle.loads(sys.stdin.buffer.read())\n"
        "sys.stdout.buffer.write(pickle.dumps(fn(('A',), pdf)))\n"
    )
    res = subprocess.run(
        [sys.executable, "-I", "-c", script],
        input=cloudpickle.dumps((fit_apply, pdf)),
        capture_output=True,
        cwd=tmp_path,
        timeout=120,
    )
    assert res.returncode == 0, res.stderr.decode()
    pd.testing.assert_frame_equal(pickle.loads(res.stdout), fit_apply(("A",), pdf))
