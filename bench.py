#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line (contract-minimum keys only — r14, VERDICT r13
item 1: the rich dict's growth got the r12 printed line
front-truncated in the driver's tail capture, losing the
round-over-round comparison; diagnostics live in bench_out.json):
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q_...": sec, ...}, "sf": <float>, "version": 2}
bench_out.json additionally carries spread/trials/noisy_trials.
``version`` (also in bench_out.json) is the printed contract's
version: it is bumped whenever the printed key set changes (2: the
r14 cut to the contract-minimum keys), so a reader comparing two
lines knows whether they carry the same keys.

Each query is fully materialized through the no-op sink (format
"noop") so projection pruning can't skip work, and timing excludes
result transfer to the driver.

Noise control: every query runs N_TRIALS times (default 3, override
SPARK_GRAFT_BENCH_TRIALS), trials INTERLEAVED round-robin — trial
t+1 of a query is separated from trial t by a full pass over the
other queries, so a transient background-load spike on the shared
box cannot hit all trials of one query. "queries" reports the
per-query MEDIAN, "spread" the max−min across trials; a
round-over-round delta smaller than the spread is noise, not a
regression. Trials share one JVM deliberately: the warm-up pass
already isolates JIT/codegen effects, and a fresh JVM per trial
would re-measure startup, not the plans.

Two queries (NOISY_QUERIES) showed spread ≈ median at trials=3 in
round 3 — box-load spikes, not plan variance. They get
max(NOISY_TRIALS, N_TRIALS) samples, and when a query has ≥5
samples its single slowest sample is dropped before computing the
median and spread (a one-sided trim: transient load only ever ADDS
time, so trimming the max removes spike contamination without
biasing the center — the median of the remaining ≥4 samples still
covers the steady-state distribution).

Expected stderr: one benign ``WindowExec: No Partition Defined``
warning from q_fuzzy_join — resolution.rank_candidates's deliberate
global sort of the DIM-SIZED candidate universe (never the pair
stream); its input size is enforced by a plan-embedded guard
(resolution.py MAX_RANK_CANDIDATES).

Cross-SESSION comparability caveat (measured in round 5, CONFIRMED
by a controlled A/B in round 7): two runs hours apart on this shared
box can differ by a roughly UNIFORM multiplicative factor (observed
~+15% in r5 and ~+20-25% between the r5 and r6 round recordings, on
byte-identical plans) — host-neighbor contention, not plan drift.
The round-7 discrimination experiment (VERDICT r6 item 2,
BENCH_AB_r07.json): r6 HEAD (9618f1a) and the r5 tag (db7293e)
benched back-to-back in ONE session, ABBA order — per-query median
ratio r6/r5 = 1.023 (mean 1.028, range 0.946-1.125, n=23, no
outlier), while r6's own two runs within that session differed by
13% — i.e. the recorded r5→r6 shift was entirely the box. Read
round-over-round deltas against the SHAPE of the common-prefix
ratio distribution: a plan regression shows up as an outlier ratio
on specific queries; a uniform shift across all of them is the box,
not the code.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import football_data_pipeline_spark.all_queries  # noqa: F401
from football_data_pipeline_spark.registry import QUERIES
from football_data_pipeline_spark.session import get_spark

#: version of the printed contract (see the module docstring)
VERSION = 2

#: representative cross-section: joins, windows, aggs, ER cascade,
#: dedup/LSH, ANN, text — the operators that dominate real workloads
HEADLINE = [
    "q_star_join",
    "q_latest_per_key",
    "q_upcoming_games",
    "q_lag_movement",
    "q_group_multi",
    "q_topk_group",
    "q_range_join",
    "q_upsert_latest",
    "q_asof_join",
    "q_fuzzy_join",
    "q_dedup_minhash",
    "q_ngram_jaccard",
    "q_knn_bruteforce",
    "q_text_stats",
    # added in round 4 (set was 14 queries through BENCH_r03 — compare
    # totals across rounds on the common prefix, not the grand total)
    "q_line_dedup",
    "q_semdedup",
    "q_quality_classifier",
    # added late in round 4 (compare across rounds on the common
    # prefix): the DSIR selection pass and the sessionization window
    "q_dsir_weights",
    "q_sessionize",
    # added in round 5 (compare across rounds on the common prefix):
    # the exact-substring dedup family
    "q_substring_dedup",
    # added late in round 5: the skew-mitigation and sketch-pruning
    # families (salted replicate-join, bounded-state heavy hitters,
    # bloom-pruned semi-join)
    "q_salted_join",
    "q_heavy_hitters",
    "q_bloom_semi",
    # added in round 6 (compare across rounds on the common prefix):
    # the CDC apply and weighted-reservoir families get
    # round-over-round timing accountability (VERDICT r5 item 8)
    "q_cdc_apply",
    "q_weighted_sample",
    # added in round 7 (compare across rounds on the common prefix):
    # the new mining family — hard negatives (ANN cross-section) and
    # the two-model learnability score (LM cross-section) — plus the
    # iterative-graph and multimodal-codec representatives
    "q_hard_negatives",
    "q_learnability",
    "q_pagerank",
    "q_video_stats",
    # added in round 9 (compare across rounds on the common prefix):
    # the ER heavyweight — two-batch resolve + learn write-back —
    # gets timing accountability now that its plan is lineage-bounded
    # (<400 exchanges, tests/test_resolution.py), VERDICT r8 item 2;
    # the video→frame→image-dedup bridge (VERDICT r8 item 3); and the
    # audio envelope-fingerprint near-dup (the triad's last dedup
    # member)
    "q_learned_mapping",
    "q_video_frame_dedup",
    "q_audio_near_dup",
    # added in round 10 (compare across rounds on the common prefix):
    # the streaming media dedup funnel's classification stage
    # (VERDICT r9 item 2), the component-level quality-canonical
    # policy (item 3), and the release builder's best-quality drops
    # variant (item 4) — each a new first-class component this round
    "q_media_dedup",
    "q_dedup_best_of_component",
    "q_release_drops_best",
    # added late in round 10: the z-order clustering audit (two
    # bounded hash aggregates over orders) and the PSI drift
    # decomposition (two token-count aggregates) — both cheap, and
    # the layout/index math is worth watching round-over-round
    "q_zorder_skipping",
    "q_drift_psi",
    "q_html_extract",
    # added late in round 10: the snapshot-log COW-delete planning
    # audit (one scalar-bounds aggregate + one file-keyed hash
    # aggregate over documents) — cheap, and the lakehouse write-path
    # math deserves the same round-over-round watch as the zorder row
    "q_cow_delete",
    # added latest in round 10: the Gopher repetition family (a
    # zero-exchange HOF fold — watching it is watching codegen'd
    # sort+fold cost per row), the COW MERGE planning audit (the
    # upsert twin of the q_cow_delete row), and the incremental
    # view merge (delta-agg + state-sized full-outer join)
    "q_gopher_repetition",
    "q_merge_cow",
    "q_incremental_view",
    # and the other two lakehouse write/read-path audits of the same
    # wave: MOR delete planning and the bloom-skipping funnel
    "q_mor_delete",
    "q_bloom_skipping",
    "q_partition_prune",
    # and the lexical-retrieval twin of the ANN rows
    "q_bm25_topk",
    # r11: RRF fusion of the BM25 and dense lists (two k-bounded
    # passes + a full-outer join over ≤2k rows)
    "q_hybrid_topk",
    # r11: COW UPDATE audit (the q_cow_delete twin) and the
    # manifest-bounded changelog's exceptAll algebra
    "q_cow_update",
    "q_snapshot_diff",
    # r11: the multi-query BM25 batch (shared corpus stats,
    # per-query rank windows) and the materialized-index serving
    # path (build 80% + fold 20% + serve, hash-equal to the scan)
    "q_bm25_batch",
    "q_bm25_indexed",
    # r12: the serving-path hybrid — batch BM25 × IVF lists fused
    # keyed on query_id (VERDICT r11 item 6) — and the index-DELETE
    # fold (build → fold-out → serve, scan-hash-identical)
    "q_hybrid_batch",
    "q_bm25_index_delete",
    # r12: exact-phrase + slop-bounded proximity search through the
    # positional index
    "q_phrase_search",
    "q_near_search",
    # the one-scan ANALYZE stats pass (exact-NDV audit mode)
    "q_analyze_stats",
    # NOT headlined: q_media_curation (the combined gate→dedup
    # classification) measures 46-60 s/trial at sf0.1 — it gates AND
    # fingerprints 15,000 synthesized assets across two halves, so
    # three trials would add ~150 s of bench wall for a composition
    # whose pieces (q_media_gate's map-only gates, q_media_dedup's
    # screen) are each already timed; it stays driver-checked for
    # correctness in the rotation head.
]
# NOTE (VERDICT r9 item 5, BENCH_AB_r10.json): the r9 q_video_stats
# 1.40→1.97 s drift was host noise — the module diff r8→HEAD is
# purely additive (stats path byte-identical), and same-session
# repeats put the median at 1.06 s (below even the r8 number), with
# the untouched control q_star_join showing the same pattern (1.25 s
# vs its recorded 1.31→1.58); the runs are recorded in BENCH_AB_r10.json.

#: spread ≈ median at trials=3 in BENCH_r03 — needs more samples.
#: q_dedup_best_of_component joined in r14 (VERDICT r13 item 5): the
#: driver's r13 print carried spread 35.9 on an 11.1 s median at
#: trials=3 — measured while q_dedup_minhash's group table stayed
#: cached across trials (see the q_dedup_minhash note), PLUS the CC
#: checkpoints, so the headline total was hostage to one query's
#: variance. The r13 wall-clock concern is gone: the r14 CC rewrite
#: (one-pass symmetrize + fused rounds) roughly halved the query, so
#: 6 trials cost what 3 did in r13.
#: q_video_stats joined in r14 (VERDICT r13 item 7): driver print
#: 4.13 s spread 3.2 vs quiet-box 1.1 s median — same first-trial
#: codegen/cache straddle signature (its kernel memo warms within
#: the first measured pass); extra trials + the max-trim read the
#: steady state.
#: q_dedup_minhash joined in r4 (measured solo: 5.6, 4.0, 7.0, 4.4,
#: 2.7, 2.9 s), q_ngram_jaccard in r5 (spread ≈ 0.9s on a 1.65s
#: median in both full r5 runs) and q_learned_mapping in r9 (it then
#: ran q_fuzzy_join's cascade twice). Those spreads were read as
#: early trials computing a table that later trials found still
#: cached; every query now releases its caches before it returns
#: (functions/materialize.py, asserted after each oracle check), so
#: each trial pays for its own tables and that reading no longer
#: holds. They stay in the set until a re-measurement says
#: otherwise; what else drives their spread is unmeasured.
#: q_video_frame_dedup joined late in r9: its phash pair stage
#: materializes eagerly (localCheckpoint), giving an early-trial
#: straddle (spread ~1.5 s on a 3.5 s median at trials=3 in the r9
#: validation runs).
#: q_dedup_best_of_component (spread 5.3 s on a 10.9 s median at
#: trials=3, r10 validation, measured while the minhash group table
#: outlived each trial) and q_media_dedup (2.0 s on
#: 4.0 s) would qualify, but 6 trials on an 11 s query adds ~45 s of
#: bench wall and the r10 measurement put the full run right at a
#: 10-minute boundary — read their spreads with the same straddle
#: caveat instead of buying more samples.
NOISY_QUERIES = {
    "q_fuzzy_join",
    "q_star_join",
    "q_dedup_minhash",
    "q_upcoming_games",
    "q_ngram_jaccard",
    "q_learned_mapping",
    "q_video_frame_dedup",
    # joined in r11: BENCH_AB_r11 confirmed its r10 2.44x print was
    # host contention (same-session median 2.0 s, at the r9 level,
    # spread 1.5 s >= the delta) — buy it the extra trials
    "q_audio_near_dup",
    # joined in r14 (see the r14 notes above)
    "q_dedup_best_of_component",
    "q_video_stats",
}
NOISY_TRIALS = 6


def _trimmed(s: list[float]) -> list[float]:
    """Drop the single slowest sample when we have ≥5 (one-sided
    spike trim — see module docstring)."""
    if len(s) < 5:
        return s
    out = sorted(s)
    return out[:-1]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    n_trials = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3")))
    spark = get_spark(app_name="fdps-bench")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up
    # JIT/codegen warm-up: one pass over the operator paths at the
    # smallest SF. Reads different parquet files than the measured
    # run, so no data is reused — only compiled code paths.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and os.path.realpath(warm_dir) != os.path.realpath(sf_dir):
        for name in HEADLINE:
            QUERIES[name].fn(spark, warm_dir).write.mode("overwrite").format(
                "noop"
            ).save()

    def run_one(name: str) -> float:
        fn = QUERIES[name].fn
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    # the noisy queries' big plans keep JIT-warming through the first
    # measured pass (solo probe: q_fuzzy_join 8.3 → 4.5 → 4.0s on
    # consecutive runs) — one UNMEASURED pass at the TARGET sf takes
    # that drift out of their medians; the sf0.001 warm-up above only
    # compiles code paths, it cannot warm scale-dependent codegen
    for name in HEADLINE:
        if name in NOISY_QUERIES:
            run_one(name)

    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(n_trials):
        for name in HEADLINE:
            samples[name].append(run_one(name))
    # extra interleaved passes for the high-variance pair only
    for _ in range(max(NOISY_TRIALS, n_trials) - n_trials):
        for name in HEADLINE:
            if name in NOISY_QUERIES:
                samples[name].append(run_one(name))

    trimmed = {n: _trimmed(s) for n, s in samples.items()}
    timings = {n: round(statistics.median(s), 3) for n, s in trimmed.items()}
    spread = {n: round(max(s) - min(s), 3) for n, s in trimmed.items()}
    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "trials": n_trials,
        "noisy_trials": {n: len(samples[n]) for n in sorted(NOISY_QUERIES)},
        "sf": sf,
        "version": VERSION,
    }
    # the artifact must never depend on stdout capture length: the
    # r10 run's 47-query line was front-truncated by the driver's
    # tail capture (VERDICT r10 item 3) — persist the full dict to
    # bench_out.json, and PRINT only the contract-minimum keys
    # (VERDICT r13 item 1: the growing printed line got the r12
    # artifact front-truncated again, which cost the driver its
    # whole round-over-round comparison; spread/trials/noisy_trials
    # are diagnostics, so they live in the file only)
    with open(os.path.join(os.path.dirname(__file__), "bench_out.json"), "w") as f:
        json.dump(result, f, indent=1)
    printed = {
        k: result[k] for k in ("metric", "value", "unit", "queries", "sf", "version")
    }
    print(json.dumps(printed))
    spark.stop()


if __name__ == "__main__":
    main()
