"""Optimization loops — O1/O2 (SURVEY §2.8): the reference's scipy
``fmin`` fits, in numpy. They touch SMALL data (ping-level magnetometer
triplets ~1e5 rows; the gridded depth×profile matrix of one mission).
Both run per mission on the executors inside a grouped ``applyInPandas``,
so a fleet's missions fit in parallel and nothing comes back to the
driver:

- O1, the compass fit (reference :389-397), in ``shear.correct_heading``;
- O2, the shear-bias fit (reference calc_bias :1954-1984), in
  ``velocity.calc_bias``.

This module registers itself with cloudpickle by value, so the Python
workers need not import this package.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
from pyspark import cloudpickle

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _fmin(
    objective, x0: np.ndarray, maxiter: int = 1000, ftol: float = 1e-6, xtol: float = 1e-6
) -> np.ndarray:
    """Nelder–Mead simplex minimizer — drop-in for scipy.optimize.fmin when
    scipy is unavailable (standard reflection/expansion/contraction/shrink
    scheme; converged when BOTH the simplex spread and the f-value spread
    are small, like scipy's xtol+ftol pair)."""
    try:
        from scipy.optimize import fmin as _scipy_fmin  # type: ignore

        return np.atleast_1d(_scipy_fmin(objective, x0, disp=False, maxiter=maxiter, ftol=ftol))
    except ImportError:
        pass

    x0 = np.asarray(x0, dtype=float)
    n = len(x0)
    simplex = [x0]
    for i in range(n):
        p = x0.copy()
        p[i] = p[i] * 1.05 if p[i] != 0 else 0.00025
        simplex.append(p)
    fvals = [objective(p) for p in simplex]

    for _ in range(maxiter):
        order = np.argsort(fvals)
        simplex = [simplex[i] for i in order]
        fvals = [fvals[i] for i in order]
        f_spread = abs(fvals[-1] - fvals[0])
        x_spread = max(np.max(np.abs(np.asarray(p) - simplex[0])) for p in simplex[1:])
        if f_spread <= ftol * (abs(fvals[0]) + ftol) and x_spread <= xtol * (
            np.max(np.abs(simplex[0])) + xtol
        ):
            break
        centroid = np.mean(simplex[:-1], axis=0)
        xr = centroid + (centroid - simplex[-1])
        fr = objective(xr)
        if fr < fvals[0]:
            xe = centroid + 2.0 * (centroid - simplex[-1])
            fe = objective(xe)
            simplex[-1], fvals[-1] = (xe, fe) if fe < fr else (xr, fr)
        elif fr < fvals[-2]:
            simplex[-1], fvals[-1] = xr, fr
        else:
            xc = centroid + 0.5 * (simplex[-1] - centroid)
            fc = objective(xc)
            if fc < fvals[-1]:
                simplex[-1], fvals[-1] = xc, fc
            else:
                for i in range(1, n + 1):
                    simplex[i] = simplex[0] + 0.5 * (simplex[i] - simplex[0])
                    fvals[i] = objective(simplex[i])
    return simplex[int(np.argmin(fvals))]


def fit_compass(mag: pd.DataFrame, target: float) -> list[float]:
    """O1 — hard/soft-iron compass fit (reference :389-397): Nelder–Mead over
    12 coefficients minimizing RMSD of calibrated field magnitude vs the
    IGRF target. ``mag`` columns: magnetometer_x/y/z."""
    mx = mag["magnetometer_x"].to_numpy(float)
    my = mag["magnetometer_y"].to_numpy(float)
    mz = mag["magnetometer_z"].to_numpy(float)

    def calibrate(coeffs):
        a = np.reshape(coeffs[:9], (3, 3))
        b = coeffs[9:12]
        v = a @ np.array([mx - b[0], my - b[1], mz - b[2]])
        return v[0], v[1], v[2]

    def objective(coeffs):
        x, y, z = calibrate(coeffs)
        mag_norm = np.sqrt(x**2 + y**2 + z**2)
        return np.sqrt(np.nanmean((mag_norm - target) ** 2))

    x0 = np.array([1, 0, 0, 0, 1, 0, 0, 0, 1, 0, 0, 0], dtype=float)
    # Nelder–Mead in 12-D needs restarts to make progress (scipy's fmin has
    # the same weakness; the reference accepts its default convergence)
    coeffs = x0
    for _ in range(3):
        coeffs = _fmin(objective, coeffs, maxiter=4000)
    return [float(c) for c in coeffs]


def _get_bias(glider_speed: np.ndarray, coeff: float) -> np.ndarray:
    """Reference get_bias (:1955-1960): depth-cumsum of the gridded glider
    speed, NaN-restored, per-profile demeaned, scaled."""
    r, _ = glider_speed.shape
    bias = np.nancumsum(glider_speed, axis=0)
    bias[~np.isfinite(glider_speed)] = np.nan
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        bias = bias - np.tile(np.nanmean(bias, axis=0), [r, 1])
    return bias * coeff


def fit_shear_bias(
    adcp_e: np.ndarray, adcp_n: np.ndarray, speed_e: np.ndarray, speed_n: np.ndarray
) -> float:
    """O2 — scalar shear-bias fit (reference calc_bias :1954-1984): fmin over
    one coefficient minimizing the composite RMSD score (:1962-1966).
    Inputs are the small (depth_bin × profile) grids."""
    import warnings

    def score(e, n):
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            rmsd_h = lambda x: np.sqrt(np.nanmean(x**2, axis=1))  # noqa: E731
            return np.sqrt(np.nanmean((rmsd_h(e) + rmsd_h(n)) ** 2)) * 1e6

    def objective(coeff):
        return score(adcp_e + _get_bias(speed_e, coeff[0]), adcp_n + _get_bias(speed_n, coeff[0]))

    r = _fmin(objective, np.array([1.0]), maxiter=100, ftol=0.00001)
    return float(r[0])


def apply_bias(
    adcp_e: np.ndarray, adcp_n: np.ndarray, speed_e: np.ndarray, speed_n: np.ndarray, coeff: float
) -> tuple[np.ndarray, np.ndarray]:
    return adcp_e + _get_bias(speed_e, coeff), adcp_n + _get_bias(speed_n, coeff)
