#!/usr/bin/env python
"""Interleaved same-box A/B bench between two source trees.

The sandbox has intermittent host-level noise bursts (minutes-long, 2-3x
inflation — see OPTIMIZATION_r09.md "Environment note"), so a single
before/after pair is meaningless. This harness alternates passes over the
two trees (A B B A A B ... — order flips each round so slow minutes hit
both sides), each pass in a FRESH interpreter/JVM, and reports per-lane
medians over all samples plus the per-round paired deltas.

Usage:
  python scripts/ab_bench.py --tree-a /root/repo --tree-b /tmp/r8tree \
      --lanes headline --rounds 5 --runs 2 --out plans/r10/ab_headline.json

Internal one-pass mode (spawned per side per round):
  python scripts/ab_bench.py --one-pass --tree PATH --lanes a,b --runs 2
prints ONE JSON line {lane: [sec, ...]} on stdout's last line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HEADLINE_FALLBACK = [
    "a1_grid2d_mean", "a1_grid2d_median", "j1_interp_join",
    "j2_asof_nearest", "j0_equi_3way", "j4_broadcast_dim",
    "w4_cumsum_reset", "w2_central_diff", "r1_regrid_ladder",
    "dd_minhash_lsh_pairs", "ann_topk_bruteforce", "txt_quality",
    "f5_enu_rotation", "st_windowed_counts", "tpch_q1_pricing_summary",
    "q_sessionize", "udf_soundspeed_mackenzie",
]


def one_pass(tree: str, lanes: list[str], runs: int, sf_dir: str) -> None:
    sys.path.insert(0, tree)
    from seaexplorertools_spark import contract
    from seaexplorertools_spark.session import get_spark

    try:
        from seaexplorertools_spark.caching import release_consistency_caches
    except ImportError:  # older trees
        def release_consistency_caches() -> int:
            return 0

    spark = get_spark("ab-bench")
    spark.range(1000000).selectExpr("sum(id)").collect()  # JVM/codegen warm

    def noop(df) -> None:
        df.write.mode("overwrite").format("noop").save()

    out: dict[str, list[float]] = {}
    for lane in lanes:
        fn = contract.QUERIES[lane]
        noop(fn(spark, sf_dir))  # warmup
        samples = []
        for _ in range(runs):
            t0 = time.time()
            noop(fn(spark, sf_dir))
            samples.append(round(time.time() - t0, 3))
        out[lane] = samples
        release_consistency_caches()
    print(json.dumps(out))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--one-pass", action="store_true")
    ap.add_argument("--tree")
    ap.add_argument("--tree-a")
    ap.add_argument("--tree-b")
    ap.add_argument("--label-a", default="a")
    ap.add_argument("--label-b", default="b")
    ap.add_argument("--lanes", default="headline")
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", default=None)
    ap.add_argument("--env-a", default="", help="NAME=V[,NAME=V...] for side a")
    ap.add_argument("--env-b", default="", help="NAME=V[,NAME=V...] for side b")
    args = ap.parse_args()

    lanes = (HEADLINE_FALLBACK if args.lanes == "headline"
             else [s for s in args.lanes.split(",") if s])

    if args.one_pass:
        one_pass(args.tree, lanes, args.runs, args.sf)
        return

    sides = {"a": args.tree_a, "b": args.tree_b}
    side_env = {}
    for side, spec in (("a", args.env_a), ("b", args.env_b)):
        env = dict(os.environ)
        for kv in spec.split(","):
            if "=" in kv:
                k, v = kv.split("=", 1)
                env[k] = v
        side_env[side] = env
    samples: dict[str, dict[str, list[float]]] = {
        "a": {ln: [] for ln in lanes}, "b": {ln: [] for ln in lanes}}
    rounds_med: list[dict[str, dict[str, float]]] = []

    failure = None
    for rnd in range(args.rounds):
        order = ["a", "b"] if rnd % 2 == 0 else ["b", "a"]
        got: dict[str, dict[str, list[float]]] = {}
        for side in order:
            cmd = [sys.executable, os.path.abspath(__file__), "--one-pass",
                   "--tree", sides[side], "--lanes", ",".join(lanes),
                   "--runs", str(args.runs), "--sf", args.sf]
            res = subprocess.run(cmd, capture_output=True, text=True,
                                 cwd=sides[side], env=side_env[side])
            lines = res.stdout.strip().splitlines()
            if res.returncode != 0 or not lines:
                failure = (f"round {rnd} side {side}: one-pass exited "
                           f"{res.returncode} with {len(lines)} stdout lines")
                print(f"{failure}; its stderr:\n{res.stderr}", file=sys.stderr)
                break
            got[side] = json.loads(lines[-1])
            print(f"round {rnd} side {side}: "
                  f"{round(sum(statistics.median(xs) for xs in got[side].values()), 3)} s total",
                  flush=True)
        if failure:
            break
        # a round counts only when both sides finished it
        for side, lane_xs in got.items():
            for ln, xs in lane_xs.items():
                samples[side][ln].extend(xs)
        rounds_med.append({side: {ln: statistics.median(xs) for ln, xs in lane_xs.items()}
                           for side, lane_xs in got.items()})
    if not rounds_med:
        sys.exit(f"ab_bench: no round completed ({failure})")

    report = {"lanes": {}, "rounds": len(rounds_med), "runs_per_round": args.runs,
              "tree_a": args.tree_a, "tree_b": args.tree_b,
              "label_a": args.label_a, "label_b": args.label_b,
              "per_round_medians": rounds_med, "failure": failure}
    print(f"\n{'lane':28s} {args.label_a:>8s} {args.label_b:>8s} "
          f"{'b/a':>6s}  paired-deltas(b-a)")
    for ln in lanes:
        ma = statistics.median(samples["a"][ln])
        mb = statistics.median(samples["b"][ln])
        deltas = [round(r["b"][ln] - r["a"][ln], 3) for r in rounds_med]
        report["lanes"][ln] = {
            "median_a": ma, "median_b": mb,
            "ratio_b_over_a": round(mb / ma, 3) if ma else None,
            "paired_round_deltas": deltas,
            "samples_a": samples["a"][ln], "samples_b": samples["b"][ln]}
        print(f"{ln:28s} {ma:8.3f} {mb:8.3f} {_ratio(mb, ma)}  {deltas}")
    ta = sum(statistics.median(samples['a'][ln]) for ln in lanes)
    tb = sum(statistics.median(samples['b'][ln]) for ln in lanes)
    report["total_a"] = round(ta, 3)
    report["total_b"] = round(tb, 3)
    print(f"{'TOTAL':28s} {ta:8.3f} {tb:8.3f} {_ratio(tb, ta)}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
        print(f"wrote {args.out}")
    if failure:
        sys.exit(f"ab_bench: stopped early, report covers {len(rounds_med)} rounds ({failure})")


def _ratio(b: float, a: float) -> str:
    return f"{b / a:6.2f}" if a else f"{'n/a':>6s}"


if __name__ == "__main__":
    main()
