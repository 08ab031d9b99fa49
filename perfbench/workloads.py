"""The benchmark's workloads. Each one builds its inputs from the seed,
computes the expected outputs with code that shares nothing with the
engine, runs one pass of the program and checks that pass's output.

Every layer call in a pass sits in a tracer span named after the layer
(see README.md for the layer list).
"""

from __future__ import annotations

import numpy as np

from seaexplorertools_spark.caching import ledger_size, release_consistency_caches


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _release(tracer) -> None:
    with tracer.span("caching") as rec:
        release_consistency_caches()
        rec["ledger_size"] = ledger_size()


class Mission:
    """One synthetic mission through shear -> stage_boundary -> grid ->
    velocity, checked against the numpy replay of the reference."""

    unit = "dives"
    n_dives = 20
    min_cells = 400  # fewer finite reference cells means the fixture degenerated

    def __init__(self, spark, seed: int, tracer):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.size = self.n_dives

    def make_inputs(self) -> None:
        from tests.mission_fixture import make_mission

        glider, ping, cells, bt, attrs = make_mission(n_dives=self.n_dives, seed=self.seed)
        self.pd_inputs = (glider, ping, cells, bt, attrs)
        cdf = self.spark.createDataFrame
        self.glider, self.ping, self.cells, self.bt = map(cdf, (glider, ping, cells, bt))
        self.attrs = attrs

    def make_expected(self) -> None:
        import reference_replay as RR

        glider, ping, cells, bt, attrs = self.pd_inputs
        ropts = {
            "correlationThreshold": 70.0,
            "ampThreshold": 75.0,
            "velocityThreshold": 0.8,
            "ADCP_regrid_correlation_threshold": 20.0,
            "y_res": 1.0,
        }
        with np.errstate(all="ignore"):
            adcp = RR.replay_shear_from_adcp(glider, ping, cells, attrs, ropts)
            self.expected = RR.replay_velocity_from_shear(adcp, glider, bt, ropts)
        for col in ("ADCP_E", "ADCP_N"):
            n = int(np.isfinite(self.expected[col]).sum())
            if n < self.min_cells:
                raise RuntimeError(f"reference {col} has only {n} finite cells")

    def run_pass(self):
        from seaexplorertools_spark.pipeline import (
            default_options,
            grid_shear,
            shear_from_adcp,
            stage_boundary,
            velocity_from_shear,
        )

        tr = self.tracer
        options = default_options()
        options["correctADCPHeading"] = False
        gridded = None
        try:
            with tr.span("pipeline.shear"):
                gridded, ping_aug, opts = shear_from_adcp(
                    self.cells, self.ping, self.glider, self.attrs, options
                )
                gridded = gridded.cache()
                _noop(gridded)
            with tr.span("pipeline.fleet"):
                gridded_t = stage_boundary(gridded)
                ping_t = stage_boundary(ping_aug)
            with tr.span("pipeline.gridding"):
                _noop(grid_shear(gridded_t, ping_t, self.glider, opts))
            with tr.span("pipeline.velocity"):
                # the collected velocity grid is the pass's sink: it is the
                # product a user reads, and the output check needs it
                out = velocity_from_shear(gridded_t, ping_t, self.glider, self.bt, opts)
                return out.toPandas()
        finally:
            if gridded is not None:
                gridded.unpersist()
            _release(tr)

    def check(self, out) -> bool:
        """ADCP_E/ADCP_N equal the replay's at the reference's own
        tolerance, with equal NaN masks."""
        from test_reference_replay import ATOL, RTOL, _to_matrix

        xaxis, yaxis = self.expected["xaxis"], self.expected["yaxis"]
        for col in ("ADCP_E", "ADCP_N"):
            em = _to_matrix(out, col, xaxis, yaxis)
            rm = self.expected[col]
            if not (np.isfinite(em) == np.isfinite(rm)).all():
                return False
            if not np.allclose(em, rm, equal_nan=True, atol=ATOL, rtol=RTOL):
                return False
        return True

    def perturbed(self, out):
        """``out`` with one finite ADCP_E value moved far beyond tolerance."""
        bad = out.copy()
        cols = bad[["profile_num", "depth_bin", "ADCP_E"]].to_numpy(float)
        i = np.flatnonzero(np.isfinite(cols).all(axis=1))[0]
        j = bad.columns.get_loc("ADCP_E")
        bad.iloc[i, j] += 0.01 + 0.01 * abs(bad.iloc[i, j])
        return bad


class Lanes:
    """The 17 headline contract lanes over seeded sf0.01-sized tables,
    each checked exactly against its DuckDB oracle."""

    unit = "lanes"

    def __init__(self, spark, seed: int, tracer, data_dir: str):
        from bench import HEADLINE

        self.spark, self.seed, self.tracer, self.data_dir = spark, seed, tracer, data_dir
        order = np.random.default_rng(seed).permutation(len(HEADLINE))
        self.lanes = [HEADLINE[i] for i in order]
        self.size = len(self.lanes)

    def make_inputs(self) -> None:
        from perfbench.lanes_data import write_tables

        write_tables(self.seed, self.data_dir)

    def make_expected(self) -> None:
        import duckdb
        from scripts.check_contract import TABLES, canon_frame

        from seaexplorertools_spark.contract import ORACLES

        self.expected = {}
        with duckdb.connect() as con:
            for t in TABLES:
                con.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.data_dir}/{t}.parquet')"
                )
            for lane in self.lanes:
                odf = con.sql(ORACLES[lane]).df()
                self.expected[lane] = (sorted(odf.columns), canon_frame(odf))

    def run_pass(self):
        from seaexplorertools_spark.contract import QUERIES

        out = {}
        for lane in self.lanes:
            with self.tracer.span(f"contract.{lane}"):
                # collected, as scripts/check_contract.py does
                out[lane] = QUERIES[lane](self.spark, self.data_dir).toPandas()
            _release(self.tracer)
        return out

    def check(self, out) -> bool:
        from scripts.check_contract import canon_frame

        return all(
            sorted(out[lane].columns) == cols and canon_frame(out[lane]) == rows
            for lane, (cols, rows) in self.expected.items()
        )

    def perturbed(self, out):
        """``out`` with the first finite float value of one lane moved by 1."""
        for lane in self.lanes:
            df = out[lane]
            for col in df.columns:
                if df[col].dtype.kind != "f":
                    continue
                finite = np.flatnonzero(np.isfinite(df[col].to_numpy()))
                if len(finite):
                    df = df.copy()
                    df.iloc[finite[0], df.columns.get_loc(col)] += 1.0
                    return {**out, lane: df}
        raise RuntimeError("no lane output has a finite float value to perturb")
