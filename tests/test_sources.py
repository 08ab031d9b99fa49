"""Glider Parquet source (S1) and gridded sink (S6) round-trips, plus the
NetCDF AD2CP ingestion path (S2/S3) exercised end-to-end through the
pure-python classic backend."""

from __future__ import annotations

import json
import tempfile

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from seaexplorertools_spark.sources.netcdf import ingest_ad2cp
from seaexplorertools_spark.sources.netcdf3 import read_netcdf3, write_netcdf3
from seaexplorertools_spark.sources.parquet import load_glider, write_gridded


def test_load_glider_reference_columns(spark):
    """Reference-shaped parquet (Timestamp/profileNum/LEGATO_PRESSURE names,
    process_adcp.py:83-92) loads with renames, epoch-µs and soundspeed."""
    n = 50
    pdf = pd.DataFrame(
        {
            "Timestamp": pd.date_range("2024-03-01", periods=n, freq="10s"),
            "Temperature": np.linspace(10, 12, n),
            "Salinity": np.full(n, 35.1),
            "Latitude": np.full(n, 58.0),
            "Longitude": np.full(n, 11.0),
            "profileNum": np.arange(n) // 10,
            "Declination": np.full(n, 4.4),
            "LEGATO_PRESSURE": np.linspace(0, 40, n),
            "speed_vert": np.full(n, 0.1),
            "speed_horz": np.full(n, 0.3),
            "DeadReckoning": np.zeros(n, dtype=np.int64),
            "NAV_RESOURCE": np.full(n, 116, dtype=np.int64),
            "diveNum": np.ones(n, dtype=np.int64),
            "IGNORED_EXTRA": np.zeros(n),
        }
    )
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/glider.parquet"
        pdf.to_parquet(path)
        out = load_glider(spark, path)
        rows = out.orderBy("time_us").collect()
    cols = set(out.columns)
    assert {"time_us", "temperature", "salinity", "pressure", "profile_number",
            "soundspeed", "diveNum"} <= cols
    assert "IGNORED_EXTRA" not in cols
    # Mackenzie soundspeed at (11C, 35.1, ~0m) ≈ 1490 m/s
    assert 1480 < rows[0]["soundspeed"] < 1510
    assert rows[1]["time_us"] - rows[0]["time_us"] == 10_000_000


def test_write_gridded_partitioned_roundtrip(spark):
    df = spark.range(100).select(
        (F.col("id") % 10).alias("profile_num"),
        F.floor(F.col("id") / 10).alias("depth_bin"),
        (F.col("id") * 0.5).alias("Sh_E"),
    )
    with tempfile.TemporaryDirectory() as tmp:
        write_gridded(df, f"{tmp}/out", partition_by=["profile_num"])
        back = spark.read.parquet(f"{tmp}/out")
        assert back.count() == 100
        # partition pruning works on the layout
        pruned = back.filter(F.col("profile_num") == 3)
        assert pruned.count() == 10


def test_netcdf3_roundtrip():
    """Writer/reader agree bit-for-bit on dims, numeric vars, and attrs."""
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/t.nc"
        t = np.arange(9, dtype=np.float64) * 1e6
        m = np.arange(27, dtype=np.float64).reshape(9, 3) / 7.0
        s = np.arange(27, dtype=np.float32).reshape(9, 3)
        i = np.arange(9, dtype=np.int32)
        write_netcdf3(
            path,
            {"time": 9, "bin": 3},
            {"t": (("time",), t), "m": (("time", "bin"), m),
             "s": (("time", "bin"), s), "i": (("time",), i)},
            {"a_f": 2.5, "a_s": "hello", "a_i": 7},
        )
        dims, vars_, attrs = read_netcdf3(path)
    assert dims == {"time": 9, "bin": 3}
    assert np.array_equal(vars_["t"], t) and np.array_equal(vars_["m"], m)
    assert np.array_equal(vars_["s"], s) and np.array_equal(vars_["i"], i)
    assert attrs == {"a_f": 2.5, "a_s": "hello", "a_i": 7}


def test_netcdf3_record_dim_roundtrip():
    """Record (unlimited) time dimension: interleaved record slabs round-
    trip exactly — 1-D and 2-D record vars, a fixed var alongside, and the
    record dim reporting the actual record count."""
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/rec.nc"
        t = np.arange(7, dtype=np.float64) * 1e6
        m = np.arange(21, dtype=np.float64).reshape(7, 3) / 3.0
        i = np.arange(7, dtype=np.int32)
        edges = np.array([0.5, 2.5, 4.5], dtype=np.float64)
        write_netcdf3(
            path,
            {"time": None, "bin": 3},
            {
                "t": (("time",), t),
                "m": (("time", "bin"), m),
                "i": (("time",), i),
                "edges": (("bin",), edges),  # fixed var among record vars
            },
            {"src": "record-dim test"},
        )
        dims, vars_, attrs = read_netcdf3(path)
    assert dims == {"time": 7, "bin": 3}
    assert np.array_equal(vars_["t"], t)
    assert np.array_equal(vars_["m"], m)
    assert np.array_equal(vars_["i"], i)
    assert np.array_equal(vars_["edges"], edges)
    assert attrs == {"src": "record-dim test"}


def test_netcdf3_single_record_var_unpadded():
    """The classic-format special case: a lone record variable of a narrow
    type is stored with NO inter-record padding."""
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/lone.nc"
        v = np.arange(5, dtype=np.int16)
        write_netcdf3(path, {"time": None}, {"v": (("time",), v)})
        import os

        dims, vars_, _ = read_netcdf3(path)
        # data section = 5 records x 2 bytes, unpadded
        assert os.path.getsize(path) % 2 == 0
    assert dims == {"time": 5}
    assert np.array_equal(vars_["v"], v)


def test_netcdf3_record_dim_empty_and_streaming():
    """numrecs = 0 (declared, nothing appended) reads as empty arrays;
    numrecs = 0xFFFFFFFF (STREAMING) derives the count from file size."""
    import struct as _struct

    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/empty.nc"
        write_netcdf3(
            path,
            {"time": None, "bin": 2},
            {"m": (("time", "bin"), np.empty((0, 2), dtype=np.float64)),
             "t": (("time",), np.empty(0, dtype=np.float64))},
        )
        dims, vars_, _ = read_netcdf3(path)
        assert dims["time"] == 0 and vars_["m"].shape == (0, 2)

        path2 = f"{tmp}/stream.nc"
        t = np.arange(4, dtype=np.float64)
        m = np.arange(8, dtype=np.float64).reshape(4, 2)
        write_netcdf3(
            path2, {"time": None, "bin": 2},
            {"t": (("time",), t), "m": (("time", "bin"), m)},
        )
        raw = bytearray(open(path2, "rb").read())
        raw[4:8] = _struct.pack(">I", 0xFFFFFFFF)  # STREAMING sentinel
        open(path2, "wb").write(bytes(raw))
        dims, vars_, _ = read_netcdf3(path2)
        assert dims["time"] == 4
        assert np.array_equal(vars_["t"], t) and np.array_equal(vars_["m"], m)


def test_netcdf3_streaming_lone_narrow_record_var():
    """STREAMING (numrecs=0xFFFFFFFF) with a LONE int16 record variable:
    the stride is the UNPADDED 2-byte record, so the derived count must
    not halve (the header vsize is 4-padded per spec)."""
    import struct as _struct

    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/lone_stream.nc"
        v = np.arange(100, dtype=np.int16)
        write_netcdf3(path, {"time": None}, {"v": (("time",), v)})
        raw = bytearray(open(path, "rb").read())
        raw[4:8] = _struct.pack(">I", 0xFFFFFFFF)
        open(path, "wb").write(bytes(raw))
        dims, vars_, _ = read_netcdf3(path)
    assert dims["time"] == 100
    assert np.array_equal(vars_["v"], v)


def test_netcdf3_zero_record_var_mismatch_fails_loudly():
    """A 0-record variable alongside a populated one is a count mismatch,
    not a license to fabricate zero-filled records."""
    import pytest as _pytest

    with tempfile.TemporaryDirectory() as tmp:
        with _pytest.raises(ValueError, match="records"):
            write_netcdf3(
                f"{tmp}/zr.nc", {"t": None, "x": 3},
                {"a": (("t", "x"), np.zeros((0, 3))),
                 "b": (("t",), np.arange(5.0))},
            )


def test_netcdf3_record_dim_validation():
    """Loud failures: two record dims; record dim not first; record-count
    mismatch between variables."""
    import pytest as _pytest

    with tempfile.TemporaryDirectory() as tmp:
        with _pytest.raises(ValueError, match="at most one record"):
            write_netcdf3(f"{tmp}/x.nc", {"a": None, "b": None}, {})
        with _pytest.raises(ValueError, match="must be the first"):
            write_netcdf3(
                f"{tmp}/y.nc", {"time": None, "bin": 2},
                {"m": (("bin", "time"), np.zeros((2, 3)))},
            )
        with _pytest.raises(ValueError, match="records"):
            write_netcdf3(
                f"{tmp}/z.nc", {"time": None},
                {"a": (("time",), np.zeros(3)), "b": (("time",), np.zeros(4))},
            )


def _write_ad2cp_fixture(tmp: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Two classic AD2CP files (multi-file mission): Data/Average group via
    the Data_Average_* flattening, BT group in file 1 only, Config attrs."""
    rng = np.random.default_rng(3)
    t0 = 1_700_000_000_000_000
    times, vels = [], []
    for fi in range(2):
        T, B = 6, 4
        t = t0 + (fi * T + np.arange(T, dtype=np.float64)) * 1e6
        v = rng.normal(0, 0.3, (T, B))
        times.append(t)
        vels.append(v)
        variables = {
            "Data_Average_time": (("time",), t),
            "Data_Average_Pressure": (("time",), np.linspace(5, 40, T)),
            "Data_Average_Pitch": (("time",), np.full(T, 17.4)),
            "Data_Average_Roll": (("time",), np.zeros(T)),
            "Data_Average_Heading": (("time",), np.full(T, 40.0)),
            "Data_Average_SpeedOfSound": (("time",), np.full(T, 1481.0)),
        }
        for b in (1, 2, 3, 4):
            variables[f"Data_Average_VelocityBeam{b}"] = (("time", "bin"), v + b)
            variables[f"Data_Average_CorrelationBeam{b}"] = (
                ("time", "bin"), np.full((T, B), 90.0))
            variables[f"Data_Average_AmplitudeBeam{b}"] = (
                ("time", "bin"), np.full((T, B), 60.0))
        dims = {"time": T, "bin": B}
        if fi == 0:
            bt_t = t[:2] + 5e5
            dims["bt_time"] = 2
            variables["Data_AverageBT_time"] = (("bt_time",), bt_t)
            for b in (1, 2, 4):
                variables[f"Data_AverageBT_VelocityBeam{b}"] = (
                    ("bt_time",), np.array([0.1 * b, -0.05 * b]))
                variables[f"Data_AverageBT_FOMBeam{b}"] = (
                    ("bt_time",), np.array([3.0, 4.0]))
            variables["Data_AverageBT_Pressure"] = (("bt_time",), np.array([38.0, 39.0]))
        write_netcdf3(
            f"{tmp}/mission_{fi}.nc", dims, variables,
            {"Config_avg_cellSize": 2.0, "Config_avg_blankingDistance": 0.5},
        )
    return np.concatenate(times), np.vstack(vels), np.array([t0 + 5e5, t0 + 15e5])


def test_ingest_ad2cp_end_to_end(spark):
    """S2/S3: the group→long-parquet mapping runs without netCDF4/xarray —
    multi-file concat along time, (time × bin) matrices to long cells rows,
    sparse BT group, Config attrs to attrs.json."""
    with tempfile.TemporaryDirectory() as tmp:
        all_t, all_v, bt_t = _write_ad2cp_fixture(tmp)
        out = f"{tmp}/out"
        ingest_ad2cp(spark, f"{tmp}/mission_*.nc", out)

        ping = spark.read.parquet(f"{out}/adcp_ping.parquet").orderBy("time_us").toPandas()
        cells = spark.read.parquet(f"{out}/adcp_cells.parquet").orderBy("time_us", "bin").toPandas()
        bt = spark.read.parquet(f"{out}/adcp_bt.parquet").orderBy("time_us").toPandas()
        attrs = json.load(open(f"{out}/attrs.json"))

    assert attrs == {"avg_cellSize": 2.0, "avg_blankingDistance": 0.5}
    assert len(ping) == 12 and list(ping["time_us"]) == sorted(all_t.astype("int64"))
    assert ping["pitch"].eq(17.4).all()
    assert len(cells) == 12 * 4
    # spot-check: velocity_beam3 at (ping i, bin j) == fixture v[i, j] + 3
    got = cells["velocity_beam3"].to_numpy().reshape(12, 4)
    assert np.allclose(got, all_v + 3)
    assert cells["bin"].to_numpy().reshape(12, 4).tolist() == [[0, 1, 2, 3]] * 12
    # BT: sparse rows from file 1 only, beams 1/2/4 + FOM
    assert list(bt["time_us"]) == sorted(bt_t.astype("int64"))
    assert np.allclose(bt["velocity_beam4"], [0.4, -0.2])
    assert {"fom_beam1", "fom_beam2", "fom_beam4", "pressure"} <= set(bt.columns)


def test_ingest_missing_glob_raises(spark):
    with tempfile.TemporaryDirectory() as tmp:
        with pytest.raises(FileNotFoundError):
            ingest_ad2cp(spark, f"{tmp}/nope_*.nc", f"{tmp}/out")


def test_python_datasource_netcdf3(spark):
    """S2 as a first-class lazy source: spark.read.format('netcdf3') via the
    Spark 4 Python DataSource — one InputPartition per file (fleet-parallel),
    schema inferred from the first header, ping + cells layouts consistent
    with ingest_ad2cp."""
    from seaexplorertools_spark.sources.netcdf_ds import NetCDF3DataSource

    spark.dataSource.register(NetCDF3DataSource)
    with tempfile.TemporaryDirectory() as tmp:
        all_t, all_v, _bt = _write_ad2cp_fixture(tmp)

        ping = (
            spark.read.format("netcdf3")
            .option("src_file", "true")
            .load(f"{tmp}/mission_*.nc")
            .orderBy("time_us")
            .toPandas()
        )
        assert list(ping["time_us"]) == sorted(all_t.astype("int64"))
        assert ping["Pitch"].eq(17.4).all()
        # partition-parallelism: both files contributed rows
        assert ping["src_file"].nunique() == 2

        cells = (
            spark.read.format("netcdf3")
            .option("layout", "cells")
            .load(f"{tmp}/mission_*.nc")
            .orderBy("time_us", "bin")
            .toPandas()
        )
        assert len(cells) == 12 * 4
        got = cells["VelocityBeam3"].to_numpy().reshape(12, 4)
        assert np.allclose(got, all_v + 3)

        # pushdown-compatible laziness: projection+filter run without error
        n = (
            spark.read.format("netcdf3")
            .load(f"{tmp}/mission_*.nc")
            .where("Pressure > 20")
            .select("time_us")
            .count()
        )
        assert 0 < n < 12
