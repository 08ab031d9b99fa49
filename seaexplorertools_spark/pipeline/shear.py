"""Stage 1 — ``shear_from_adcp`` parity (reference process_adcp.py:2046-2057).

Call chain re-expressed as one lazy DataFrame lineage, for one mission or
a fleet keyed by ``options['mission_col']``:

    align (J1 interp-joins)            ← load_adcp_glider_data :158-223
      + orientation detect (mount sign)                         :210-213
    → beam depth remap (F2)            ← remapADCPdepth        :224-310
    → heading correction (O1/F10)      ← correct_heading       :450-462
    → soundspeed ratio (F6)            ← soundspeed_correction :464-475
    → QC masking (P3)                  ← remove_outliers       :478-566
    → shear correction (F3/O3, opt.)   ← correct_shear         :771-784
    → backscatter (F8/F9)              ← correct_backscatter   :787-873
    → regrid ladder (per-mission bin)  ← calc_ideal_depth_offsets :882-916
    → per-ping regrid (R1)             ← regridADCPdata        :876-981
    → 3-beam XYZ (F4)                  ← calcXYZfrom3beam      :984-1130
    → ENU + shear (F5/W2)              ← calcENUfromXYZ        :1133-1194

The working table is ``cells`` (one row per ping×bin) with the per-ping
attitude/nav columns joined in once at align time — every later stage is
pure column expressions or one keyed shuffle. The reference's two
per-deployment scalars (mount orientation, regrid ladder bin) are small
per-mission tables broadcast-joined back as columns, so building the plan
runs no Spark job and every join, window and shuffle is keyed by mission.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType
from pyspark.sql.window import Window

from ..functions import gsw as GSW
from ..functions import math as M
from ..operators import windows as W
from ..operators.joins import interp_join
from ..operators.qc import qc_velocity
from .driverside import fit_compass

BEAMS = (1, 2, 3, 4)
# per-row mount sign: +1 top-mounted, −1 bottom-mounted (reference direction)
SIGN = "mount_sign"
# the 12 compass-fit coefficients as per-mission columns
COEFFS = [f"__compass{i}" for i in range(12)]


def _part(options: dict) -> list[str]:
    return [options["mission_col"]] if options.get("mission_col") else []


def align_glider_to_pings(ping: DataFrame, glider: DataFrame, options: dict) -> DataFrame:
    """J1 interp of glider nav/CTD onto ping times + orientation detect
    (reference load_adcp_glider_data :169-213). The orientation is one
    per-mission aggregate, mean magnetometer Z < 0 → top-mounted,
    broadcast-joined onto the pings as the ``mount_sign`` column."""
    part = _part(options)
    samples = glider.select(
        *part, "time_us", "latitude", "longitude", "profile_number", "salinity",
        "declination", "soundspeed", "temperature", "speed_horz",
    ).withColumn("profile_number", F.col("profile_number").cast("double"))
    ping_aug = interp_join(
        samples,
        ping,
        on="time_us",
        values=[
            "latitude", "longitude", "profile_number", "salinity",
            "declination", "soundspeed", "temperature", "speed_horz",
        ],
        partition_by=part,
        bucket=options.get("interp_bucket"),
        suffix="_g",
    )
    ping_aug = (
        ping_aug.withColumnsRenamed(
            {
                "latitude_g": "latitude",
                "longitude_g": "longitude",
                "salinity_g": "salinity",
                "declination_g": "declination",
                "soundspeed_g": "glider_soundspeed",
                "temperature_g": "temperature",
                "speed_horz_g": "speed_horz",
            }
        )
        .withColumn("profile_number", F.round(F.col("profile_number_g")).cast("long"))
        .drop("profile_number_g")
        .withColumn("depth", GSW.depth_from_pressure(F.col("pressure"), F.col("latitude")))
    )
    # reference :210-213 — a NULL mean (no magnetometer data) is bottom
    orientation = ping.groupBy(*part).agg(
        F.when(F.avg("magnetometer_z") < 0, 1.0).otherwise(-1.0).alias(SIGN)
    )
    return ping_aug.join(F.broadcast(orientation), part or None, "inner")


def _compass_fit_apply(part: list[str], target: float):
    """The executor function of the per-mission compass fit: ``(key, pdf)
    -> one row`` of the mission key and its 12 fitted coefficients. Rows
    are fitted in time order, so the fit does not depend on how Spark
    ordered them. A closure, so cloudpickle ships it (and, registered by
    value, ``driverside``) to Python workers that need not import this
    package."""

    def fit(key, pdf):
        coeffs = fit_compass(pdf.sort_values("time_us", kind="stable"), target)
        return pd.DataFrame([[*key, *coeffs]], columns=[*part, *COEFFS])

    return fit


def correct_heading(ping_aug: DataFrame, options: dict) -> DataFrame:
    """Heading correction (reference correct_heading :450-462): compass
    hard/soft-iron fit (O1 — needs a geomag target) then declination
    added. With ``geomag_target`` set, each mission's 12 coefficients are
    fitted by one grouped ``applyInPandas`` on the executors and joined
    back as columns. Offline (geomag_target=None) → declination only,
    with the fit coefficients at identity."""
    if not options.get("correctADCPHeading"):
        return ping_aug
    part = _part(options)
    coeffs = [1.0, 0, 0, 0, 1.0, 0, 0, 0, 1.0, 0, 0, 0]
    if options.get("geomag_target") is not None:
        mag = ping_aug.select(*part, "time_us", "magnetometer_x", "magnetometer_y", "magnetometer_z")
        schema = StructType(
            [ping_aug.schema[c] for c in part] + [StructField(c, DoubleType()) for c in COEFFS]
        )
        fitted = mag.groupBy(*part).applyInPandas(
            _compass_fit_apply(part, float(options["geomag_target"])), schema
        )
        ping_aug = ping_aug.join(F.broadcast(fitted), part or None, "inner")
        coeffs = [F.col(c) for c in COEFFS]
    mx, my, mz = M.calibrate_mag(
        F.col("magnetometer_x"), F.col("magnetometer_y"), F.col("magnetometer_z"), coeffs
    )
    corrected = M.mag_heading(mx, my, mz, F.col("pitch"), F.col("roll"), F.col(SIGN))
    return (
        ping_aug.withColumn("heading_old", F.col("heading"))
        .withColumn("heading", corrected + F.col("declination"))
        .drop(*COEFFS)
    )


def build_cells(cells: DataFrame, ping_aug: DataFrame, attrs: dict, options: dict) -> DataFrame:
    """Join ping columns onto cells, derive along-beam range and per-beam
    cell depths (reference remapADCPdepth :224-310). One sort-merge join on
    (mission, time_us) — co-bucketable at scale."""
    cell_size = float(attrs["avg_cellSize"])
    blanking = float(attrs["avg_blankingDistance"])
    df = cells.join(ping_aug, [*_part(options), "time_us"])
    if options.get("ADCP_discardFirstBins", 0):
        df = df.filter(F.col("bin") >= int(options["ADCP_discardFirstBins"]))
    df = df.withColumn(
        "velocity_range",
        F.lit(blanking) + (F.col("bin").cast("double") + F.lit(0.5)) * F.lit(cell_size),
    )
    for b in BEAMS:
        df = df.withColumn(
            f"d{b}",
            M.beam_cell_depth(
                F.col("depth"), F.col("velocity_range"), F.col("pitch"), F.col("roll"), b, F.col(SIGN)
            ),
        )
    return df


def soundspeed_correction(df: DataFrame) -> DataFrame:
    """F6 (reference :464-475): V *= c_glider / c_instrument. Idempotency is
    lineage-level (pure transform), no rename guard needed."""
    ratio = F.col("glider_soundspeed") / F.nullif(F.col("speed_of_sound"), F.lit(0.0))
    return df.withColumns({f"velocity_beam{b}": F.col(f"velocity_beam{b}") * ratio for b in BEAMS})


def remove_outliers(df: DataFrame, options: dict) -> DataFrame:
    """P3 QC masking (reference :478-566)."""
    return qc_velocity(
        df,
        beams=list(BEAMS),
        corr_min=float(options["correlationThreshold"]),
        amp_max=float(options["ampThreshold"]),
        vel_max=float(options["velocityThreshold"]),
    )


def correct_shear(df: DataFrame, ping_aug: DataFrame, options: dict) -> DataFrame:
    """O3 — optional shear-profile correction, reference-parity (reference
    correct_shear :771-784, _shear_correction :682-768). Default-off like
    the reference golden test.

    Per enabled component (ZZ4, Z4, Y4, X4 — reference flag order :776-779):
    beam→XYZZ (F3), select pings whose through-water speed at the FIRST bin
    (sqrt(X4² + Y4² + ((Z4+ZZ4)/2)²), ``.values[:, 0]`` at :687-689) lies in
    the open band (0.2, 0.29) (``full_range[0]``/``full_range[-1]`` of
    ``np.arange(0.2, 0.3, 0.01)``, :758-759), average the per-ping bin
    difference of the component over those pings, cumulative-sum with a
    leading 0 (``np.cumsum(np.insert(..., 0, 0))``), demean
    (``ref -= np.nanmean(ref)``), and subtract that ONE profile from every
    ping. np.cumsum propagates NaN — a bin with no selected data poisons all
    deeper bins, reproduced with a running null flag.

    Scale: the correction profile is |bins| rows (tiny) → broadcast join;
    the selection aggregate is one groupBy(ping) with map-side combine.
    """
    flags = [
        ("correctZZshear", "zz4"),
        ("correctZshear", "z4"),
        ("correctYshear", "y4"),
        ("correctXshear", "x4"),
    ]
    if not any(options.get(k) for k, _ in flags):
        return df

    band = np.arange(0.2, 0.3, 0.01)  # reference :691-692
    lo, hi = float(band[0]), float(band[-1])
    names = ["x4", "y4", "z4", "zz4"]
    mission_part = _part(options)

    xyzz = M.beam2xyzz(*[F.col(f"velocity_beam{b}") for b in BEAMS])
    df = df.withColumns(dict(zip(names, xyzz)))

    for flag, comp in flags:
        if not options.get(flag):
            continue
        # through-water speed at the first bin of each ping, from the
        # CURRENT (possibly already-corrected) XYZZ — the reference
        # recomputes beam2xyzz before each component (:776-779)
        spd = F.sqrt(
            F.col("x4") ** 2
            + F.col("y4") ** 2
            + ((F.col("z4") + F.col("zz4")) / F.lit(2.0)) ** 2
        )
        spd0 = (
            df.withColumn("__spd", spd)
            .groupBy(*mission_part, "time_us")
            .agg(F.min_by("__spd", F.col("bin")).alias("__spd0"))
        )
        sel = df.join(
            spd0.filter((F.col("__spd0") > lo) & (F.col("__spd0") < hi)).drop("__spd0"),
            [*mission_part, "time_us"],
            "inner",
        )
        dv = W.diff(comp, [*mission_part, "time_us"], ["bin"])
        sel_agg = (
            sel.withColumn("__dv", dv)
            .groupBy(*mission_part, "bin")
            .agg(F.avg("__dv").alias("__mean_dv"))
        )
        # keep the FULL bin axis (xarray keeps all bins; mean over an empty
        # selection is NaN per bin, first bin still gets the inserted 0)
        per_bin = (
            df.select(*mission_part, "bin")
            .distinct()
            .join(sel_agg, [*mission_part, "bin"], "left")
        )
        # cumsum with leading 0 + NaN propagation + demean, over |bins| rows
        wb = (
            Window.partitionBy(*mission_part)
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_all = Window.partitionBy(*mission_part)
        first_bin = F.min("bin").over(w_all)
        csum = F.sum(F.coalesce("__mean_dv", F.lit(0.0))).over(wb)
        poisoned = F.max(
            F.when(F.col("__mean_dv").isNull() & (F.col("bin") > first_bin), 1).otherwise(0)
        ).over(wb)
        corr = per_bin.withColumn(
            "__corr_raw", F.when(poisoned == 1, F.lit(None)).otherwise(csum)
        )
        corr = corr.withColumn(
            "__corr", F.col("__corr_raw") - F.avg("__corr_raw").over(w_all)
        ).select(*mission_part, "bin", "__corr")
        # NULL correction propagates (reference: NaN - NaN), so no coalesce
        df = (
            df.join(F.broadcast(corr), [*mission_part, "bin"], "left")
            .withColumn(comp, F.col(comp) - F.col("__corr"))
            .drop("__corr")
        )
    beams_back = M.xyzz2beam(*[F.col(n) for n in names])
    df = df.withColumns({f"velocity_beam{b}": e for b, e in zip(BEAMS, beams_back)})
    return df.drop(*names)


def correct_backscatter(df: DataFrame, options: dict) -> DataFrame:
    """F8+F9 (reference correct_backscatter :787-873): α from
    Francois–Garrison at 1000 kHz with glider S/T and ping depth; per-beam
    slant ranges; Amp_new = Amp + 2·α·R."""
    alpha = M.francois_garrison(
        1000.0, F.col("salinity"), F.col("temperature"), 8.1, F.col("depth")
    )
    df = df.withColumn("acoustic_attenuation", alpha)
    cos_a = F.cos(F.radians(F.lit(47.4)))  # reference :841 uses 47.4 here
    cos_b = F.cos(F.radians(F.lit(25.0)))
    for b in BEAMS:
        rng = F.col("velocity_range") / (cos_a if b in (1, 3) else cos_b)
        df = df.withColumn(
            f"amplitude_new{b}",
            M.backscatter_correction(F.col(f"amplitude_beam{b}"), F.col("acoustic_attenuation"), rng),
        )
    return df


def _max_bin_apply(key_cols: list[str], threshold: float):
    """The executor function of :func:`regrid_ladder`: ``(key, pdf) ->
    one row`` of the mission key and its ladder bin. ``pdf`` holds the
    mission's per-bin beam-correlation means (``m1``..``m4``); the bin
    nearest the threshold is the FIRST minimum of ``argmin`` over the
    beam-averaged means in bin order, its position among the bins
    (reference calc_ideal_depth_offsets :882-916). A closure, so
    cloudpickle ships it by value."""
    cols = [f"m{b}" for b in BEAMS]

    def max_bin(key, pdf):
        means = pdf.sort_values("bin")[cols].to_numpy(np.float64)
        overall = np.nanmean(means, axis=1)
        best = int(np.argmin(np.abs(overall - threshold)))
        return pd.DataFrame([[*key, best]], columns=[*key_cols, "max_bin"])

    return max_bin


def regrid_ladder(df: DataFrame, options: dict) -> DataFrame:
    """The per-mission ladder table (mission key, ``mount_sign``,
    ``max_bin``): per-(mission, bin) mean correlation of the 4 beams, then
    one grouped ``applyInPandas`` per mission picks the bin nearest the
    threshold (:func:`_max_bin_apply`). Lazy; one row per mission. The
    mount sign is constant per mission, so keying by it too costs nothing
    and lets the plan reuse the orientation broadcast of
    :func:`align_glider_to_pings` instead of building a pruned copy."""
    key_cols = [*_part(options), SIGN]
    per_bin = df.groupBy(*key_cols, "bin").agg(
        *[F.avg(f"correlation_beam{b}").alias(f"m{b}") for b in BEAMS]
    )
    schema = StructType(
        [df.schema[c] for c in key_cols] + [StructField("max_bin", LongType(), False)]
    )
    thr = float(options["ADCP_regrid_correlation_threshold"])
    return per_bin.groupBy(*key_cols).applyInPandas(_max_bin_apply(key_cols, thr), schema)


# per-ping columns carried through the regrid into the gridded table
PING_CARRY = [
    "pressure", "depth", "pitch", "roll", "heading", "latitude", "longitude",
    "profile_number", "salinity", SIGN,
]


def regrid_cells(df: DataFrame, ladder: DataFrame, attrs: dict, options: dict) -> DataFrame:
    """R1 (reference regridADCPdata :876-981): per ping, interpolate each
    beam's velocity from its own per-cell offset axis (Depth − D_b =
    direction·range·cos θ_b) onto the fixed ladder.

    The ladder (reference calc_ideal_depth_offsets :882-916) is rebuilt per
    ping on the executor from its mission's ``max_bin`` and mount sign
    (the row of :func:`regrid_ladder`, broadcast-joined): half-cell steps
    from 0 to ``blanking + (max_bin + 0.5)·cell_size`` inclusive, signed by
    the mount direction.

    Physical strategy: repartition by (mission, ping), sort within
    partitions, stream ``mapInPandas`` with a carry buffer for pings split
    across Arrow batch boundaries — the per-group Python round-trip of
    applyInPandas costs ~2 ms and pings are the HIGH-cardinality axis
    (~10⁵/mission), so amortizing it over whole batches is a ~3× win (same
    pattern as operators/regrid.py). All worker helpers are nested defs
    (cloudpickle by value — workers don't see this package on sys.path)."""
    part = _part(options)
    cell_size = float(attrs["avg_cellSize"])
    blanking = float(attrs["avg_blankingDistance"])
    beams = tuple(BEAMS)
    carry_cols = list(PING_CARRY)
    key_cols = [*part, "time_us"]

    work = df.select(
        *key_cols, "bin", *[c for c in PING_CARRY if c != SIGN],
        *[F.col(f"velocity_beam{b}") for b in BEAMS],
        *[(F.col("depth") - F.col(f"d{b}")).alias(f"x{b}") for b in BEAMS],
    ).withColumn("profile_number", F.col("profile_number").cast("double"))
    # profile_number carried as double for gridding parity with the
    # reference's float coordinates; the mount sign and max_bin come with
    # the mission's ladder row
    work = work.join(F.broadcast(ladder), part or None, "inner")

    schema = StructType(
        [df.schema[c] for c in part]
        + [StructField("time_us", LongType(), False), StructField("gridded_bin", IntegerType(), False)]
        + [StructField(c, DoubleType(), True) for c in PING_CARRY]
        + [StructField(f"v{b}", DoubleType(), True) for b in BEAMS]
        + [StructField("depth_offset", DoubleType(), False), StructField("bin_depth", DoubleType(), True)]
    )

    ladders = {}

    def ladder_of(max_bin, sign):
        if (max_bin, sign) not in ladders:
            max_distance = blanking + max_bin * cell_size + 0.5 * cell_size
            ladders[max_bin, sign] = np.arange(0, max_distance + cell_size, cell_size / 2) * sign
        return ladders[max_bin, sign]

    def tail_start(pdf: pd.DataFrame) -> int:
        """Index of the first row of the last ping in ``pdf``."""
        tail = np.ones(len(pdf), dtype=bool)
        for c in key_cols:
            k = pdf[c].to_numpy()
            tail &= k == k[-1]
        return len(pdf) - int(tail[::-1].argmin() if not tail.all() else len(pdf))

    def process(body: pd.DataFrame) -> pd.DataFrame:
        # whole-batch vectorized form of the per-ping interpolation: one
        # preallocated array set per batch instead of one pandas frame
        # per ping + concat (the ~10⁵-pings/mission frame churn was the
        # measured hot spot of the shear stage). Per-ping np.interp math
        # and row order (pings in partition order × gridded_bin asc) are
        # IDENTICAL to the per-ping form.
        change = np.zeros(max(len(body) - 1, 0), dtype=bool)
        for c in key_cols:
            k = body[c].to_numpy()
            change |= k[1:] != k[:-1]
        starts = np.flatnonzero(np.r_[True, change])
        ends = np.r_[starts[1:], len(body)]
        max_bins = body["max_bin"].to_numpy()[starts]
        signs = body[SIGN].to_numpy(np.float64)[starts]
        offs = [ladder_of(int(m), float(sg)) for m, sg in zip(max_bins, signs)]
        n_offs = np.array([len(o) for o in offs])
        bases = np.r_[0, np.cumsum(n_offs)[:-1]]
        total = int(n_offs.sum())
        out = {c: np.repeat(body[c].to_numpy()[starts], n_offs) for c in key_cols}
        out["gridded_bin"] = np.concatenate([np.arange(n, dtype=np.int32) for n in n_offs])
        for c in carry_cols:
            vals = pd.to_numeric(body[c], errors="coerce").to_numpy(np.float64)
            out[c] = np.repeat(vals[starts], n_offs)
        xs_all = {b: body[f"x{b}"].to_numpy(np.float64) for b in beams}
        ys_all = {b: body[f"velocity_beam{b}"].to_numpy(np.float64) for b in beams}
        vout = {b: np.full(total, np.nan) for b in beams}
        for i in range(len(starts)):
            s, e, base, offsets = starts[i], ends[i], bases[i], offs[i]
            for b in beams:
                x, y = xs_all[b][s:e], ys_all[b][s:e]
                gd = np.isfinite(x) & np.isfinite(y)
                if gd.sum() > 1:
                    order = np.argsort(x[gd], kind="stable")
                    xg, yg = x[gd][order], y[gd][order]
                    vi = np.interp(offsets, xg, yg)
                    vi[offsets < xg[0]] = np.nan
                    vi[offsets > xg[-1]] = np.nan
                    vout[b][base : base + len(offsets)] = vi
        for b in beams:
            out[f"v{b}"] = vout[b]
        out["depth_offset"] = np.concatenate(offs)
        out["bin_depth"] = out["depth"] - out["depth_offset"]
        return pd.DataFrame(out)

    def per_partition(batches):
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            first_tail = tail_start(pdf)
            carry = pdf.iloc[first_tail:]
            body = pdf.iloc[:first_tail]
            if len(body):
                yield process(body)
        if carry is not None and len(carry):
            yield process(carry)

    sorted_work = work.repartition(*key_cols).sortWithinPartitions(*key_cols, "bin")
    return sorted_work.mapInPandas(per_partition, schema)


def calc_xyz(df: DataFrame) -> DataFrame:
    """F4 (reference calcXYZfrom3beam :984-1130) on the regridded beams."""
    xyz = M.xyz_from_3beam(
        F.col("v1"), F.col("v2"), F.col("v3"), F.col("v4"), F.col("pitch"), F.col(SIGN)
    )
    return df.withColumns(dict(zip(["x", "y", "z"], xyz)))


def calc_enu(df: DataFrame, options: dict) -> DataFrame:
    """F5 + W2 (reference calcENUfromXYZ :1133-1194): rotate to ENU, then
    shear = central difference over the gridded_bin index (xarray
    ``differentiate('gridded_bin')`` semantics — index coordinate, not
    depth) within each (mission, ping)."""
    enu = M.xyz_to_enu(
        F.col("x"), F.col("y"), F.col("z"),
        F.col("heading"), F.col("pitch"), F.col("roll"), F.col(SIGN),
    )
    df = df.withColumns(dict(zip(["e", "n", "u"], enu)))
    gb = F.col("gridded_bin").cast("double")
    key = [*_part(options), "time_us"]
    return df.withColumns(
        {f"sh_{c}": W.central_diff(c, gb, key, ["gridded_bin"]) for c in ("e", "n", "u")}
    )


def shear_from_adcp(
    cells: DataFrame,
    ping: DataFrame,
    glider: DataFrame,
    attrs: dict,
    options: dict,
) -> tuple[DataFrame, DataFrame, dict]:
    """Entry point 1 (reference shear_from_adcp :2046-2057).

    Returns (gridded_cells, ping_aug, options): gridded_cells is the long
    (time_us × gridded_bin) table with V1–4/X/Y/Z/E/N/U/Sh_E/Sh_N/Sh_U;
    both frames carry the per-row ``mount_sign`` (+1 top-mounted, −1
    bottom-mounted), and ``options`` is returned unchanged.

    One lazy plan for one mission or a fleet: with
    ``options['mission_col']`` set, all three inputs carry that key and
    every join, window and shuffle is keyed by it, so each mission gets
    its own orientation, ladder and (with ``geomag_target``) compass fit.
    ``attrs`` (cell size, blanking distance) is one dict per call, shared
    by every mission in it. Building the plan runs no Spark job.
    """
    ping_aug = align_glider_to_pings(ping, glider, options)
    ping_aug = correct_heading(ping_aug, options)
    df = build_cells(cells, ping_aug, attrs, options)
    df = soundspeed_correction(df)
    df = remove_outliers(df, options)
    df = correct_shear(df, ping_aug, options)
    df = correct_backscatter(df, options)
    gridded = regrid_cells(df, regrid_ladder(df, options), attrs, options)
    gridded = calc_enu(calc_xyz(gridded), options)
    return gridded, ping_aug, options
