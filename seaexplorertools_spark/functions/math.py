"""Scalar expression library — reference families F1–F13 (SURVEY §2.6).

Every function here returns pyspark Column expressions (pure JVM codegen, no
UDFs) re-expressing the reference's per-row numpy math. Citations are
file:line into /root/reference/seaexplorertools/process_adcp.py.

The reference tiles per-ping values across bins with np.tile (:245-248);
in long format the broadcasting is implicit — these expressions apply
per-row whatever the row granularity.
"""

from __future__ import annotations

import math as _m

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# F1 — trigonometry & angles (:228-237, :359-373, :985-997)
# ---------------------------------------------------------------------------


def cosd(x: Column) -> Column:
    return F.cos(F.radians(x))


def sind(x: Column) -> Column:
    return F.sin(F.radians(x))


def atan2d(y: Column, x: Column) -> Column:
    return F.degrees(F.atan2(y, x))


def wrap360(x: Column) -> Column:
    """Angle wrap to [0, 360) — reference ``wrap = (x + 360) % 360`` (:366)."""
    return F.pmod(x + F.lit(360.0), F.lit(360.0))


def circ180(x: Column) -> Column:
    """Circular difference to (-180, 180] — reference ``circ`` (:362-365)."""
    return F.when(F.abs(x) > 180, x - F.lit(360.0) * F.signum(x)).otherwise(x)


# ---------------------------------------------------------------------------
# F2 — beam geometry: per-beam angle from vertical and cell depth (:224-270)
# ---------------------------------------------------------------------------

THETA_FORE = 47.5  # beams 1/3 angle from Z (:991)
THETA_SIDE = 25.0  # beams 2/4 angle from Z (:992)


def beam_theta(pitch: Column, roll: Column, beam: int, sign: Column) -> Column:
    """Angle of beam axis from vertical, radians (reference :227-237).

    theta_b = arccos(cos(deg2rad(angle ∓ tilt)) * cos(deg2rad(other_tilt)))
    with the ∓ sign flipped between top- and bottom-mounted instruments;
    ``sign`` is the mount sign (+1 top, −1 bottom).
    """
    if beam == 1:
        return F.acos(cosd(F.lit(THETA_FORE) - pitch * sign) * cosd(roll))
    if beam == 2:
        return F.acos(cosd(F.lit(THETA_SIDE) - roll * sign) * cosd(pitch))
    if beam == 3:
        return F.acos(cosd(F.lit(THETA_FORE) + pitch * sign) * cosd(roll))
    if beam == 4:
        return F.acos(cosd(F.lit(THETA_SIDE) + roll * sign) * cosd(pitch))
    raise ValueError(beam)


def beam_cell_depth(
    depth: Column, along_beam_range: Column, pitch: Column, roll: Column, beam: int, sign: Column
) -> Column:
    """True depth of a (ping, bin) cell for one beam (reference remapADCPdepth
    :243-270): Depth − direction · range · cos(theta_beam), direction being
    the mount sign."""
    return depth - sign * along_beam_range * F.cos(beam_theta(pitch, roll, beam, sign))


# ---------------------------------------------------------------------------
# F3 — 4-beam ↔ XYZZ fixed matrix transform (:595-649)
# ---------------------------------------------------------------------------

# Nortek AD2CP 4-beam-to-XYZZ matrix (reference quad_beam2xyzz_mat :595-615)
BEAM2XYZZ = (
    (0.6782, 0.0, -0.6782, 0.0),
    (0.0, -1.1831, 0.0, 1.1831),
    (0.7400, 0.0, 0.7400, 0.0),
    (0.0, 0.5518, 0.0, 0.5518),
)


def _inv4(m):
    import numpy as np

    return tuple(tuple(float(v) for v in row) for row in np.linalg.inv(np.array(m)))


XYZZ2BEAM = _inv4(BEAM2XYZZ)


def beam2xyzz(b1: Column, b2: Column, b3: Column, b4: Column) -> list[Column]:
    """4 linear combinations (reference quad_beam2xyzz :618-634 — the
    per-column Python loop :631-632 becomes four codegen expressions)."""
    beams = (b1, b2, b3, b4)
    return [
        sum((F.lit(c) * v for c, v in zip(row, beams)), F.lit(0.0))
        for row in BEAM2XYZZ
    ]


def xyzz2beam(x: Column, y: Column, z: Column, zz: Column) -> list[Column]:
    """Inverse transform (reference quad_xyzz2beam :637-649)."""
    comps = (x, y, z, zz)
    return [
        sum((F.lit(c) * v for c, v in zip(row, comps)), F.lit(0.0))
        for row in XYZZ2BEAM
    ]


# ---------------------------------------------------------------------------
# F4 — 3-beam XYZ solution with pitch-dependent beam replacement (:984-1034)
# ---------------------------------------------------------------------------


def _a(t_deg: float) -> float:
    return 1.0 / (2.0 * _m.sin(_m.radians(t_deg)))


def _b(t_deg: float) -> float:
    return 1.0 / (4.0 * _m.cos(_m.radians(t_deg)))


def xyz_from_3beam(
    v1: Column, v2: Column, v3: Column, v4: Column, pitch: Column, sign: Column
) -> list[Column]:
    """3-beam XYZ solution (reference calcXYZfrom3beam :984-1034).

    The fore/aft beam pointing into the glider's wake is replaced by the
    error-zero solution ``(2b(ts)V2 + 2b(ts)V4 − 2b(tf)V_good) / 2b(tf)``
    (:1018), selected by pitch sign and the mount sign (:1020-1031); then
    X = a(tf)(V1−V3), Y = −a(ts)V2 + a(ts)V4, Z = 2b(ts)(V2+V4) (:1033-1035).
    """
    a_tf, a_ts = _a(THETA_FORE), _a(THETA_SIDE)
    b_tf, b_ts = _b(THETA_FORE), _b(THETA_SIDE)

    def replaced_by(good: Column) -> Column:
        return (
            F.lit(2 * b_ts) * v2 + F.lit(2 * b_ts) * v4 - F.lit(2 * b_tf) * good
        ) / F.lit(2 * b_tf)

    upcast = pitch > 0
    top = sign > 0
    v1_eff = F.when(
        top, F.when(~upcast, replaced_by(v3)).otherwise(v1)
    ).otherwise(F.when(upcast, replaced_by(v3)).otherwise(v1))
    v3_eff = F.when(
        top, F.when(upcast, replaced_by(v1)).otherwise(v3)
    ).otherwise(F.when(~upcast, replaced_by(v1)).otherwise(v3))

    x = F.lit(a_tf) * v1_eff - F.lit(a_tf) * v3_eff
    y = F.lit(-a_ts) * v2 + F.lit(a_ts) * v4
    z = F.lit(2 * b_ts) * v2 + F.lit(2 * b_ts) * v4
    return [x, y, z]


# ---------------------------------------------------------------------------
# F5 — XYZ → ENU rotation (:1133-1164; BT variant :1545-1584)
# ---------------------------------------------------------------------------


def xyz_to_enu(
    x: Column,
    y: Column,
    z: Column,
    heading: Column,
    pitch: Column,
    roll: Column,
    sign: Column,
) -> list[Column]:
    """Per-row 3×3 rotation (reference M_xyz2enu :1134-1146): nine trig
    products as codegen expressions; the BT per-row Python loop (:1583-1584)
    vectorizes away. ``sign`` (the reference's ``direction``) applies the
    mount sign to Y and Z (:1156-1158)."""
    hh = F.radians(heading - F.lit(90.0))
    pp = F.radians(pitch)
    rr = F.radians(roll)
    ch, sh = F.cos(hh), F.sin(hh)
    cp, sp = F.cos(pp), F.sin(pp)
    cr, sr = F.cos(rr), F.sin(rr)

    yd, zd = y * sign, z * sign
    e = (ch * cp) * x + (-ch * sp * sr + sh * cr) * yd + (-ch * sp * cr - sh * sr) * zd
    n = (-sh * cp) * x + (sh * sp * sr + ch * cr) * yd + (sh * sp * cr - ch * sr) * zd
    u = sp * x + (cp * sr) * yd + (cp * cr) * zd
    return [e, n, u]


# ---------------------------------------------------------------------------
# F8 — Francois–Garrison acoustic absorption (:808-838)
# ---------------------------------------------------------------------------


def francois_garrison(
    freq_khz: Column | float,
    salinity: Column,
    temp_c: Column,
    ph: Column | float,
    depth_m: Column,
) -> Column:
    """Seawater sound absorption α (dB/m), Francois & Garrison (1982) —
    closed-form with the T≤20 °C branch as a ``when`` (reference
    francoisgarrison :808-838; published empirical formula)."""
    f = freq_khz if isinstance(freq_khz, Column) else F.lit(float(freq_khz))
    pH = ph if isinstance(ph, Column) else F.lit(float(ph))
    S, T, z = salinity, temp_c, depth_m
    ten = F.lit(10.0)

    c = F.lit(1412.0) + F.lit(3.21) * T + F.lit(1.19) * S + F.lit(0.0167) * z
    theta = F.lit(273.0) + T
    fxf = f * f
    f1 = F.lit(2.8) * F.sqrt(S / F.lit(35.0)) * F.pow(ten, F.lit(4.0) - F.lit(1245.0) / theta)
    f2 = (
        F.lit(8.17)
        * F.pow(ten, F.lit(8.0) - F.lit(1990.0) / theta)
        / (F.lit(1.0) + F.lit(0.0018) * (S - F.lit(35.0)))
    )
    a1 = F.lit(8.86) / c * F.pow(ten, F.lit(0.78) * pH - F.lit(5.0))
    a2 = F.lit(21.44) * S / c * (F.lit(1.0) + F.lit(0.025) * T)
    a3_warm = (
        F.lit(3.964e-4) - F.lit(1.146e-5) * T + F.lit(1.45e-7) * T * T - F.lit(6.5e-10) * T * T * T
    )
    a3_cold = (
        F.lit(4.937e-4) - F.lit(2.59e-5) * T + F.lit(9.11e-7) * T * T - F.lit(1.50e-8) * T * T * T
    )
    a3 = F.when(T <= 20.0, a3_cold).otherwise(a3_warm)
    p2 = F.lit(1.0) - F.lit(1.35e-4) * z + F.lit(6.2e-9) * z * z
    p3 = F.lit(1.0) - F.lit(3.83e-5) * z + F.lit(4.9e-10) * z * z
    alpha = (
        a1 * f1 * fxf / (f1 * f1 + fxf)
        + a2 * p2 * f2 * fxf / (f2 * f2 + fxf)
        + a3 * p3 * fxf
    )
    return alpha / F.lit(1000.0)


# ---------------------------------------------------------------------------
# F9 — backscatter amplitude correction (:787-873)
# ---------------------------------------------------------------------------


def backscatter_correction(amplitude: Column, alpha: Column, beam_range: Column) -> Column:
    """Amp + 2·α·BeamRange (reference :861-865); beam_range is the slant
    range ``along_beam_range / cos(theta_beam)`` (:843-846)."""
    return amplitude + F.lit(2.0) * alpha * beam_range


# ---------------------------------------------------------------------------
# F10 — compass hard/soft-iron calibration + heading (:359-387)
# ---------------------------------------------------------------------------


def calibrate_mag(
    mx: Column, my: Column, mz: Column, coeffs: list[float | Column]
) -> list[Column]:
    """out = A @ (v − B) with 3×3 soft-iron A (coeffs[:9]) and hard-iron
    offset B (coeffs[9:12]) — reference calibrate :375-387, fitted by
    scipy-style fmin (O1). A coefficient may be a float or a Column
    (``F.lit`` passes a Column through)."""
    a = coeffs[:9]
    b = coeffs[9:12]
    vx, vy, vz = mx - F.lit(b[0]), my - F.lit(b[1]), mz - F.lit(b[2])
    return [
        F.lit(a[0]) * vx + F.lit(a[1]) * vy + F.lit(a[2]) * vz,
        F.lit(a[3]) * vx + F.lit(a[4]) * vy + F.lit(a[5]) * vz,
        F.lit(a[6]) * vx + F.lit(a[7]) * vy + F.lit(a[8]) * vz,
    ]


def mag_heading(
    mx: Column, my: Column, mz: Column, pitch: Column, roll: Column, sign: Column
) -> Column:
    """Tilt-compensated magnetic heading (reference heading/rot_x/rot_y
    :367-373): wrap(atan2d(rot_x, rot_y) − 90); ``sign`` is the mount
    sign applied to the Y and Z field components."""
    my_s, mz_s = sign * my, sign * mz
    rx = mx * cosd(pitch) + my_s * sind(roll) * sind(pitch) + mz_s * cosd(roll) * sind(pitch)
    ry = my_s * cosd(roll) - mz_s * sind(roll)
    return wrap360(atan2d(rx, ry) - F.lit(90.0))


# ---------------------------------------------------------------------------
# F6/F11/F12/F13 — small families
# ---------------------------------------------------------------------------


def soundspeed_ratio_correction(v: Column, c_new: Column, c_old: Column) -> Column:
    """F6 — V · c_new/c_old (reference soundspeed_correction :464-475)."""
    return v * (c_new / F.nullif(c_old, F.lit(0.0)))


def magnitude3(x: Column, y: Column, z: Column) -> Column:
    """F11 — 3-D norm (reference :359 speed-through-water)."""
    return F.sqrt(x * x + y * y + z * z)


def epoch_us_to_sec(ts_us: Column) -> Column:
    """F12 — float-seconds shadow column (reference date_float :105 keeps
    float epoch-ns; µs → s keeps doubles exact below 2^53)."""
    return ts_us.cast("double") / F.lit(1e6)


def clip(x: Column, lo: Column | float, hi: Column | float) -> Column:
    """F13 — np.clip as least/greatest (reference :1708-1710)."""
    lo_c = lo if isinstance(lo, Column) else F.lit(float(lo))
    hi_c = hi if isinstance(hi, Column) else F.lit(float(hi))
    return F.least(F.greatest(x, lo_c), hi_c)
