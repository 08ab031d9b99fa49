#!/usr/bin/env python3
"""Benchmark of seaexplorertools_spark, run from the repository root:

    python3 perfbench/run.py --workload mission20 --seed 1 --seconds 10 --trace 0

One closed-loop client in one process: set up (Spark session, seeded
inputs, expected outputs), then timed passes back to back until
``--seconds`` have been measured, at least one. The first pass is the
first the process runs, so it pays codegen and JIT warm-up, as a fresh
process per mission does. Every pass's output is checked; a pass that
raises or fails its check counts as failed. ``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer metrics (see README.md). The last line of
standard output is one JSON object; the lines before it, prefixed ``#``,
name the environment and the pass times. Spark's own console output goes
to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

from perfbench.tracing import Tracer, duration  # noqa: E402

OUT_DIR = os.path.join(HERE, "out")
# Explicit and well below the 15 GB of the 4-core reference box, where
# session.get_spark would ask for 16g. The heap is committed and touched
# in full at JVM start (-Xms, AlwaysPreTouch): otherwise peak RSS swings
# by a quarter from run to run with the collector's heap sizing, and a
# change outside the Java heap could not be told from that noise.
DRIVER_MEM = "2g"
REQUIRED = (
    "BENCHMARK.json",
    "bench.py",
    "seaexplorertools_spark/session.py",
    "scripts/check_contract.py",
    "tests/mission_fixture.py",
    "tests/reference_replay.py",
    "tests/test_reference_replay.py",
)
PIPELINE_LAYERS = ("pipeline.shear", "pipeline.fleet", "pipeline.gridding", "pipeline.velocity")
LAYER_COUNTERS = (
    "wall_s", "driver_s", "jobs", "stages", "stages_skipped", "tasks",
    "failed_tasks", "executor_run_s", "shuffle_write_mb", "spill_mb", "result_mb",
)


def _process_age_s() -> float:
    """Seconds since this process was started (kernel start time)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    started = int(fields[19]) / os.sysconf("SC_CLK_TCK")  # field 22: starttime
    with open("/proc/uptime") as f:
        return float(f.read().split()[0]) - started


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _isolate_stdout():
    """Return a file on the original stdout and point fd 1 at stderr, so
    the JVM, the Python workers and progress output cannot reach the
    machine-read lines."""
    sys.stdout.flush()
    result = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    return result


def _pin_environment(work: str, cpus: int) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={work}/warehouse"),
            "--driver-java-options", shlex.quote(java_opts),
            "pyspark-shell",
        ]),
    })
    tempfile.tempdir = None  # re-read TMPDIR


def _declared_units() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


class Runner:
    """Runs and checks passes, counting attempts and failures."""

    def __init__(self, workload, tracer):
        self.wl, self.tracer = workload, tracer
        self.attempted = self.failed = 0
        self.last_out = None

    def one_pass(self, pass_id: str) -> None:
        """Time one pass in a ``pass`` span, then check its output outside
        the span. A pass that raises or fails its check counts as failed."""
        tr = self.tracer
        tr.pass_id = pass_id
        out = None
        with tr.span("pass") as rec:
            try:
                out = self.wl.run_pass()
            except Exception:
                traceback.print_exc()
        tr.pass_id = None
        try:
            ok = out is not None and self.wl.check(out)
        except Exception:
            traceback.print_exc()
            ok = False
        tr.read_store(pass_id)
        self.attempted += 1
        self.failed += not ok
        if ok:
            self.last_out = out
        else:
            print(f"perfbench: pass {pass_id} failed", file=sys.stderr)

    def timed_passes(self, prefix: str, seconds: float) -> list[str]:
        ids: list[str] = []
        start = time.perf_counter()
        while not ids or time.perf_counter() - start < seconds:
            ids.append(f"{prefix}{len(ids)}")
            self.one_pass(ids[-1])
        return ids

    def wall(self, pass_id: str) -> float:
        (sid,) = self.tracer.spans_of(pass_id, "pass")
        return duration(self.tracer.spans[sid])


def _layer_metrics(tracer, pass_id: str, lanes: list[str]) -> dict:
    m: dict[str, float] = {}
    for layer in PIPELINE_LAYERS:
        ids = tracer.spans_of(pass_id, layer)
        lm = tracer.layer_metrics(pass_id, ids) if ids else dict.fromkeys(LAYER_COUNTERS, 0)
        m.update({f"{layer}.{k}": lm[k] for k in LAYER_COUNTERS})
    fits = [tracer.spans[i] for i in tracer.spans_of(pass_id, "pipeline.driverside")]
    m["pipeline.driverside.fit_s"] = sum(map(duration, fits))
    m["pipeline.driverside.fits"] = len(fits)
    rel = [tracer.spans[i] for i in tracer.spans_of(pass_id, "caching")]
    m["caching.release_s"] = sum(map(duration, rel))
    m["caching.ledger_size"] = max((s["ledger_size"] for s in rel), default=0)
    totals = dict.fromkeys(("driver_s", "executor_run_s", "shuffle_write_mb"), 0.0)
    for lane in lanes:
        ids = tracer.spans_of(pass_id, f"contract.{lane}")
        lm = tracer.layer_metrics(pass_id, ids) if ids else dict.fromkeys(LAYER_COUNTERS, 0)
        m[f"contract.{lane}.wall_s"] = lm["wall_s"]
        m[f"contract.{lane}.jobs"] = lm["jobs"]
        for k in totals:
            totals[k] += lm[k]
    m.update({f"contract.{k}": v for k, v in totals.items()})
    (sid,) = tracer.spans_of(pass_id, "pass")
    m["trace.pass_s"] = duration(tracer.spans[sid])
    m["trace.uncovered_s"] = m["trace.pass_s"] - sum(map(duration, tracer.children_of(sid)))
    return m


def _median_metrics(per_pass: list[dict]) -> dict:
    return {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}


def _traced_fit(tracer):
    """Wrap driverside.fit_shear_bias in a span; calc_bias imports the
    name at call time, so the wrapper is what it calls. Returns the undo."""
    from seaexplorertools_spark.pipeline import driverside

    orig = driverside.fit_shear_bias

    def fit_shear_bias(*args, **kwargs):
        with tracer.span("pipeline.driverside"):
            return orig(*args, **kwargs)

    driverside.fit_shear_bias = fit_shear_bias
    return lambda: setattr(driverside, "fit_shear_bias", orig)


def _stop(spark) -> None:
    """Stop Spark, then end the JVM (it exits when its stdin closes) and
    wait for it; the Python workers are its children."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(args, work: str, result_out) -> int:
    cpus = len(os.sched_getaffinity(0))
    _pin_environment(work, cpus)
    e2e_units, layer_units = _declared_units()

    from seaexplorertools_spark.session import get_spark

    spark = get_spark("perfbench")
    setup = {"setup.session_s": _process_age_s()}
    try:
        from bench import HEADLINE
        from perfbench.workloads import Lanes, Mission

        tracer = Tracer(spark, enabled=False)
        if args.workload == "mission20":
            wl = Mission(spark, args.seed, tracer)
        else:
            wl = Lanes(spark, args.seed, tracer, os.path.join(work, "lanes"))
        runner = Runner(wl, tracer)

        t = time.perf_counter()
        wl.make_inputs()
        setup["setup.inputs_s"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.make_expected()
        setup["setup.expected_s"] = time.perf_counter() - t
        setup_s = _process_age_s()

        undo = _traced_fit(tracer) if args.trace else None
        tracer.enabled = bool(args.trace)
        passes = runner.timed_passes("t", args.seconds)
        tracer.enabled = False
        if undo:
            undo()
        if runner.last_out is not None and wl.check(wl.perturbed(runner.last_out)):
            raise RuntimeError("output check accepted a perturbed output")
        walls = [runner.wall(p) for p in passes]

        if args.trace:
            metrics = _median_metrics([_layer_metrics(tracer, p, HEADLINE) for p in passes])
            metrics.update(setup)
            units = layer_units
            tracer.dump(
                os.path.join(OUT_DIR, f"spans-{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "setup": setup},
            )
        else:
            metrics = {
                "setup_s": setup_s,
                "pass_s": statistics.median(walls),
                "peak_rss_mb": _hwm_mb("self") + _hwm_mb(spark.sparkContext._gateway.proc.pid),
                "ok_frac": (runner.attempted - runner.failed) / runner.attempted,
            }
            units = e2e_units
        if set(metrics) != set(units):
            raise RuntimeError(
                f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}"
            )
        jvm = spark.sparkContext._jvm
        print(
            f"# workload={args.workload} seed={args.seed} trace={args.trace} cpus={cpus} "
            f"driver_mem={DRIVER_MEM} spark={spark.version} "
            f"java={jvm.java.lang.System.getProperty('java.version')}",
            file=result_out,
        )
        print(
            f"# pass_s={[round(w, 3) for w in walls]} "
            f"throughput={wl.size / statistics.median(walls):.4g} {wl.unit}/s "
            f"attempted={runner.attempted} failed={runner.failed} "
            + " ".join(f"{k}={v:.3f}" for k, v in setup.items()),
            file=result_out,
        )
    finally:
        _stop(spark)
    record = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in sorted(metrics)},
    }
    print(json.dumps(record), file=result_out, flush=True)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("mission20", "lanes"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a source checkout, missing {missing}", file=sys.stderr)
        return 2
    result_out = _isolate_stdout()
    os.makedirs(OUT_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix="work-", dir=OUT_DIR)
    try:
        return run(args, work, result_out)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
