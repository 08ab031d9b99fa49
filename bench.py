#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Stdout layout (round-7 fix — the round-6 official record was lost because
the driver keeps only the LAST 2,000 characters of bench stdout and the
full-detail JSON outgrew that window):

  1. the FULL detail JSON (queries, spreads, extras, per-stage e2e) —
     also written to BENCH_DETAIL.json at the repo root;
  2. the LAST line is ONE compact JSON (~700 chars) with the headline
     metric, per-headline-query times, extra_total, pipeline_e2e and
     the 8-mission pipeline_e2e_fleet wall — guaranteed to fit the
     driver's tail window.

Each query is materialized with the noop sink (full compute, no I/O cost
in the measurement). Per query: one warmup run (codegen/JIT — a fixed
cost irrelevant at scale), then MEDIAN OF 3 timed runs, with the
run-to-run spread (max-min) recorded alongside. "value" stays the sum of
headline medians, comparable with the round-1 floor in BASELINE.md.

Also times the end-to-end 20-dive mission pipeline (shear -> grid ->
velocity on the deterministic synthetic mission) under "pipeline_e2e" —
median of FIVE runs (e2e is noisier than any single query), with
per-stage medians so a composition regression localizes.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from seaexplorertools_spark import contract  # noqa: E402
from seaexplorertools_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "a1_grid2d_mean",       # flagship: 2-D binned multi-aggregate (one shuffle)
    "a1_grid2d_median",     # exact-median gridding
    "j1_interp_join",       # interpolation time-alignment join
    "j2_asof_nearest",      # nearest as-of join
    "j0_equi_3way",         # broadcast star join
    "j4_broadcast_dim",     # broadcast dim join + agg
    "w4_cumsum_reset",      # sessionized cumsum (two window passes, one sort)
    "w2_central_diff",      # np.gradient window
    "r1_regrid_ladder",     # carry-buffer mapInPandas regrid
    "dd_minhash_lsh_pairs", # minhash LSH dedup
    "ann_topk_bruteforce",  # brute-force cosine top-k
    "txt_quality",          # text quality features
    "f5_enu_rotation",      # trig-heavy expression chain
    "st_windowed_counts",   # tumbling-window agg
    "tpch_q1_pricing_summary",  # multi-aggregate scan
    "q_sessionize",         # gap-cumsum sessionization
    "udf_soundspeed_mackenzie",  # Arrow pandas-UDF path
]

# round-3 flagship additions, timed in the same run and reported under
# "extra_queries" — separate keys so "value" stays comparable with the
# round-1/2 17-query floor in BASELINE.md
EXTRA = [
    "q_tpch_q5",            # 6-table snowflake join
    "q_tpch_q9",            # derived-supply profit (composite-key join)
    "q_kmv_distinct",       # deterministic KMV sketch
    "q_countmin_tokens",    # Count-Min heavy hitters
    "txt_winnow",           # array-domain winnowing fingerprints
    "dd_winnow_containment",# df-capped containment self-join
    "q_curriculum_order",   # distributed global rank
    "q_hybrid_rrf",         # BM25 + dense cosine fusion
    "q_dq_checks",          # one-scan data-quality suite
    "dd_edit_distance_pairs",  # pigeonhole Levenshtein self-join
    "q_zorder_layout",      # Morton-key clustering audit
    "q_weighted_sample",    # A-ES weighted sampling (local top-k combine)
    "q_reservoir_sample",   # exact per-group reservoir (threshold prune)
    "ann_pca_top",          # power-iteration PCA (aggregate per step)
    "q_kmeans_iterate",     # 3 Lloyd iterations (exact-oracled)
    "q_graph_triangles",    # degree-oriented triangle counting
    "q_skyline_frontier",   # two-phase Pareto frontier
    "q_peak_concurrency",   # distributed sweep-line prefix sum
    "q_chi2_independence",  # contingency audit
    "q_kl_drift",           # per-day KL divergence
    "q_group_ols",          # sufficient-stats regression
    "q_rendezvous_shards",  # HRW consistent placement
    "q_k_anonymity",        # generalization-ladder audit
    # round-3 session additions
    "q_assoc_rules",        # market-basket pair mining (Σ k_b² pair join)
    "txt_pmi_bigrams",      # PMI collocations (explode = token volume)
    "q_cusum_drift",        # CUSUM via single-shuffle window stack
    "q_target_encode",      # leave-one-out encoder (broadcast stats)
    "q_quantile_sketch",    # bottom-k deterministic quantile sample
    "q_hopping_counts",     # hopping windows (2-element explode)
    "q_auc_scores",         # exact Mann-Whitney AUC (windowless global cumsum)
    "q_rfm_segments",       # RFM quartiles via distributed global rank
    "q_profile_table_approx",  # HLL-NDV table profile (constant shuffle)
    "q_kappa_langid",       # chance-corrected langid agreement
    # round-4 session additions
    "q_dsir_selection",     # DSIR importance-resampling selection
    "dd_bloom_decontaminate",  # broadcast-bitset decontamination
    "ann_jl_project",       # zero-shuffle JL projection
    "q_lr_quality_train",   # 3-iteration logistic-regression trainer
    "dd_substring_spans",   # exact char-level dedup spans (gram shuffle)
    "dd_substring_dedup_apply",  # span cut + in-aggregate reassembly
    "q_source_cap",         # per-source domain cap (local top-k combine)
    "ann_hard_negatives",   # contrastive hard-negative miner
    # round-8 continuation: format/ingest lanes
    "mm_tiff_pixels",       # baseline TIFF decode → pixel stats
    "mm_aiff_signal",       # AIFF BE-PCM decode → signal features
    "mm_zip_records",       # ZIP member explosion
    "mm_tar_records",       # TAR (plain/gz) member explosion
    "mm_avro_records",      # Avro OCF block walk
    "mm_m4a_meta",          # MP4 'soun' track metadata
    "mm_pdf_text",          # PDF operator-level text extraction
    "mm_docx_text",         # OOXML document part scan
    "mm_compressed_text",   # gzip/bz2/xz dump decompression
    "mm_msgpack_records",   # MessagePack wire walk
    "mm_subtitle_cues",     # SRT/WebVTT cue explosion
    "mm_mbox_records",      # mbox + MIME walk (heaviest text lane)
    "mm_notebook_cells",    # nbformat cell explosion
    "mm_svg_meta",          # codegen SVG metadata
    "q_chat_flatten",       # pure-JVM SFT transcript prep
    "q_robots_rules",       # RFC-9309 group parse (host-partitioned window)
    "q_robots_allowed",     # longest-match fetch permission join
    "q_sitemap_urls",       # crawl-frontier sitemap explosion
    "mm_ico_pixels",        # favicon decode (largest-entry, dual route)
    "mm_epub_text",         # EPUB container-chain extraction
    "mm_arrow_records",     # Arrow IPC (stream + file formats)
    "txt_markdown_meta",    # YAML front-matter + body profile (codegen)
    "q_dpo_pairs",          # DPO preference-pair prep + prompt dedup
    "txt_wordpiece",        # JVM-aggregate greedy WordPiece encode
    "mm_cbor_records",      # CBOR (RFC 8949) wire walk
    "mm_ics_events",        # iCalendar VEVENT explosion (codegen)
    "mm_hls_entries",       # HLS media/master playlist explosion
    "txt_po_entries",       # gettext PO parallel-pair mining
    "q_geojson_features",   # VARIANT GeoJSON bbox explosion
    "mm_midi_notes",        # SMF note pairing walk
    "mm_rtf_text",          # RTF group-walker extraction
    "mm_vcard_contacts",    # vCard contact explosion (codegen)
    "q_toml_entries",       # TOML key mining (section ffill window)
    "mm_bson_records",      # BSON dump walk
    "q_xml_records",        # generic XML record explosion
    "txt_latex_extract",    # LaTeX prose extraction (regex chain)
    "q_wordpiece_stats",    # tokenizer fertility report
    "q_access_logs",        # combined access-log parse + tz math
    "mm_sqldump_rows",      # mysqldump INSERT tuples
    "q_span_corruption",    # T5 span-corruption prep
    "q_fim_transform",      # fill-in-the-middle prep
    "q_rss_items",          # RSS feed explosion (xml_records composition)
]




def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _timed(fn, runs: int = 3) -> tuple[float, float]:
    """One warmup call, then the median and max-min spread of ``runs``
    timed calls."""
    fn()
    samples = []
    for _ in range(runs):
        t0 = time.time()
        fn()
        samples.append(time.time() - t0)
    samples.sort()
    return round(samples[len(samples) // 2], 3), round(samples[-1] - samples[0], 3)


def _mission_e2e(spark) -> dict:
    """End-to-end mission pipeline (shear_from_adcp -> grid_shear +
    velocity_from_shear) on the deterministic 20-dive synthetic mission —
    the SCALING.md warm figure, promoted to a tracked bench number.
    Fixture generation is outside the timed section (it is driver-side
    pandas, not engine work).

    e2e is noisier than any single query (r6 idle-box spread was 1.6 s),
    so this leg is MEDIAN OF 5, and each of the three stages (shear
    materialization, gridding, velocity integration) is timed inside
    every run so a composition regression localizes to a stage."""
    from seaexplorertools_spark.pipeline import (
        default_options,
        grid_shear,
        shear_from_adcp,
        stage_boundary,
        velocity_from_shear,
    )
    from tests.mission_fixture import make_mission

    glider_pd, ping_pd, cells_pd, bt_pd, attrs = make_mission(n_dives=20)
    glider = spark.createDataFrame(glider_pd)
    ping = spark.createDataFrame(ping_pd)
    cells = spark.createDataFrame(cells_pd)
    bt = spark.createDataFrame(bt_pd)

    runs = 5
    stage_samples: dict[str, list[float]] = {"shear": [], "grid": [], "velocity": []}
    totals: list[float] = []

    def run(record: bool) -> None:
        from seaexplorertools_spark.caching import release_consistency_caches

        options = default_options()
        options["correctADCPHeading"] = False
        t0 = time.time()
        gridded, ping_aug, opts = shear_from_adcp(cells, ping, glider, attrs, options)
        gridded = gridded.cache()
        try:
            _noop(gridded)  # materialize the cache = the shear stage
            # Stage-boundary lineage truncation at the shear→grid/velocity
            # seam via the library's pipeline.stage_boundary; its cost is
            # charged to the shear stage.
            gridded_t = stage_boundary(gridded)
            ping_aug = stage_boundary(ping_aug)
            t1 = time.time()
            _noop(grid_shear(gridded_t, ping_aug, glider, opts))
            t2 = time.time()
            _noop(velocity_from_shear(gridded_t, ping_aug, glider, bt, opts))
            t3 = time.time()
        finally:
            gridded.unpersist()
            release_consistency_caches()  # velocity's ledgered internals
        if record:
            stage_samples["shear"].append(t1 - t0)
            stage_samples["grid"].append(t2 - t1)
            stage_samples["velocity"].append(t3 - t2)
            totals.append(t3 - t0)

    run(record=False)  # warmup
    for _ in range(runs):
        run(record=True)

    def med_spread(xs: list[float]) -> tuple[float, float]:
        xs = sorted(xs)
        return round(xs[len(xs) // 2], 3), round(xs[-1] - xs[0], 3)

    total_med, total_spread = med_spread(totals)
    stages = {}
    for name, xs in stage_samples.items():
        m, s = med_spread(xs)
        stages[name] = {"median": m, "spread": s}
    return {
        "mission_20dive_sec": total_med,
        "spread": total_spread,
        "runs": runs,
        "stages": stages,
    }


def _fleet_e2e(spark, n_missions: int = 8) -> dict:
    """Compact fleet point (round-9 VERDICT task 1): the full pipeline
    over N missions — one keyed plan per stage with mission_col —
    measured as warmup + a single timed run (the full 1/8/32 curve with medians lives in
    scripts/fleet_bench.py; this keeps the driver bench bounded).
    Parity of the composition is pinned by
    tests/test_pipeline_scale.py::test_fleet_full_pipeline_parity."""
    from scripts.fleet_bench import build_fleet, run_fleet

    fleet = build_fleet(spark, n_missions)
    run_fleet(spark, fleet)  # warmup
    wall, stages = run_fleet(spark, fleet)
    return {
        "n_missions": n_missions,
        "wall_sec": round(wall, 3),
        "stages": {k: round(v, 3) for k, v in stages.items()},
        "runs": 1,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("bench")
    # warmup: JVM + codegen + parquet footer cache
    spark.range(1000000).selectExpr("sum(id)").collect()

    from seaexplorertools_spark.caching import release_consistency_caches

    times: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name in HEADLINE:
        times[name], spreads[name] = _timed(
            lambda: _noop(contract.QUERIES[name](spark, sf_dir))
        )
        # MEASUREMENT FIX (round 9, documented in OPTIMIZATION_r09.md):
        # drop the query's ledgered consistency caches BETWEEN queries.
        # Without this the ledger grows across the ~100-query run, which
        # (a) makes every later action's plan analysis scan hundreds of
        # cached plans (CacheManager lookup is linear in entries — the
        # bench tail measured minutes slower than the same queries in a
        # fresh session), and (b) lets a later query silently REUSE an
        # earlier query's cached identical subtree — cross-query result
        # caching the bench must not measure. Within one query the
        # warmup-then-median methodology is unchanged.
        release_consistency_caches()

    total = round(sum(times.values()), 3)

    extra: dict[str, float] = {}
    extra_spreads: dict[str, float] = {}
    for name in EXTRA:
        if name not in contract.QUERIES:
            continue
        extra[name], extra_spreads[name] = _timed(
            lambda: _noop(contract.QUERIES[name](spark, sf_dir))
        )
        release_consistency_caches()  # see HEADLINE loop comment

    e2e = _mission_e2e(spark)
    fleet = _fleet_e2e(spark)
    extra_total = round(sum(extra.values()), 3)

    detail = {
        "metric": "headline_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": times,
        "spread": spreads,
        "extra_queries": extra,
        "extra_spread": extra_spreads,
        "extra_total": extra_total,
        "pipeline_e2e": e2e,
        "pipeline_e2e_fleet": fleet,
        "sf": sf,
        "mode": "warm (per-query warmup run, median of 3 timed runs;"
        " e2e median of 5 with per-stage medians; spread = max-min;"
        " fleet = warmup + 1 timed run at 8 missions)",
    }
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps(detail))

    # The driver records only the LAST ~2,000 chars of stdout: end with ONE
    # compact line (~700 chars) carrying the headline record. Full detail
    # is above and in BENCH_DETAIL.json.
    compact = {
        "metric": "headline_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": times,
        "extra_total": extra_total,
        "pipeline_e2e": e2e["mission_20dive_sec"],
        "pipeline_e2e_fleet": fleet["wall_sec"],
        "fleet_missions": fleet["n_missions"],
        "sf": sf,
        "per_query_file": "BENCH_DETAIL.json",
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1500:  # belt-and-braces: drop per-query before the record
        compact.pop("queries")
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
