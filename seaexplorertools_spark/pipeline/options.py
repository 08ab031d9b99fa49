"""Pipeline options — mirrors the reference's options dict
(tests/test_adcp_processing.py:14-26) with engine extensions.
"""

from __future__ import annotations


def default_options() -> dict:
    return {
        # QC thresholds (reference tests :18-25)
        "correlationThreshold": 70.0,
        "velocityThreshold": 0.8,
        "ampThreshold": 75.0,
        "ADCP_discardFirstBins": 0,
        "ADCP_regrid_correlation_threshold": 20.0,
        # correction flags (reference defaults)
        "correctADCPHeading": True,
        "correctXshear": False,
        "correctYshear": False,
        "correctZshear": False,
        "correctZZshear": False,
        # engine knobs
        "geomag_target": None,  # scalar field strength; None → skip compass fit (offline)
        "y_res": 1.0,  # depth-bin resolution in metres (reference :49)
        # gridding domain: "reference" reproduces the reference's pd.cut
        # axes exactly (first profile dropped, capped at glider max
        # pressure, right-closed bins — see gridding.py); "full" keeps
        # every profile/depth with floor bins (engine extension)
        "grid_domain": "reference",
        # optional time-bucket width for scalable interp joins, in the time
        # column's unit: µs (``time_us``)
        "interp_bucket": None,
    }
