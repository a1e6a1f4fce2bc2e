"""Benchmark harness: runs the headline registry queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query is fully materialized via the no-op sink (measures the
whole plan — scan, shuffle, agg — without driver collect overhead).
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

import pandas as pd  # module-level: pandas-UDF type hints resolve here

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lcmap_blackmagic_spark.registry import QUERIES
from lcmap_blackmagic_spark.session import get_session
from tools.bench_families import families

# Headline set: the scan/agg, join, explode, window, and text-heavy
# queries — the shapes that dominate at scale.
HEADLINE = [
    "pricing_summary",
    "revenue_by_nation",
    "combine_join",
    "prediction_dates",
    "stratified_sample",
    "topk_customers",
    "events_tumbling",
    "dedup_exact",
    "text_stats",
    "linear_projection",
    "sessionize",
    "cube_agg",
    "trailing_spend",
    "llm_minhash_pairs",
    "llm_cosine_topk",
    # round-2 additions: banded near-dup verify, deterministic
    # sketches, and the TF-IDF two-aggregate shape
    "llm_embed_neardup",
    "kmv_sketch",
    "llm_tfidf_topk",
    # adapted TPC-H heavyweights: the 5-table profit join and the
    # aggregate-then-join HAVING shape
    "tpch_q9",
    "tpch_q18",
    # wave-4 representatives: broadcast 5-gram decontamination and
    # the SCD2 run-collapse window chain
    "llm_decontaminate",
    "scd2_intervals",
    # round-5 additions: the round-4 operators now tracked by the
    # official artifact (not only SCALE.md claims), plus the staged
    # minhash pipeline (materialize-once form of llm_minhash_pairs)
    "record_linkage",
    "zorder_key",
    "llm_dedup_groups",
    "interpolate",
    "llm_minhash_pipeline",
    # round-5 operators: mergeable HLL distinct, character-gram
    # substring dedup, CDC merge, unigram rarity scoring
    "hll_sketch",
    "llm_substr_dedup",
    "merge_upsert",
    "llm_rarity",
    # BPE merge learning (8 declarative rounds over the checkpointed
    # vocabulary) and deterministic weighted priority sampling
    "llm_bpe_merges",
    "weighted_sample",
    # iterative graph analytics (integer-scaled, oracle-checked)
    "pagerank",
    "quantile_sketch",
    # round-5 session-2: exact prefix-filter similarity join,
    # Count-Min heavy hitters, KMV set algebra, funnel, MAD outliers,
    # and the pHash banding pipeline (Arrow decode + codegen verify)
    "llm_jaccard_prefix",
    "cms_topk",
    "kmv_set_ops",
    "funnel_steps",
    "mad_outliers",
    "mm_phash_pairs",
    # triangle enumeration joins, basket self-join + lift, and the
    # one-scan multi-distinct profiler
    "triangle_count",
    "item_cooccurrence",
    "profile_table",
    "ivm_agg",
    # round-5 session-3: shuffle-free BM25, rank-sum AUC, broadcast
    # k-means assign step, bit-exact EWMA window, last-touch
    # attribution carry-forward
    "bm25_topk",
    "eval_auc",
    "kmeans_assign",
    "ewma_smooth",
    "attribution",
    # the end-to-end curation funnel (quality -> staged-minhash dedup
    # -> decontam), composed from the repo's own operators
    "llm_curation",
    # statistics wave: one-pass Poisson bootstrap, bigram LM scoring,
    # embedding-space decontamination
    "bootstrap_ci",
    "llm_lm_score",
    "semantic_decon",
    # round-6: the last unbenched round-5 statistics operators, plus
    # the breakpoint-broadcast quantile twins (the at-scale forms of
    # the ntile queries — no global sort anywhere in their plans)
    "quality_deciles_bp",
    "rfm_scores_bp",
    "eval_ndcg",
    "ab_ttest",
    "focal_mean",
    "cusum_changepoints",
    # round-6 wave: sort-free exact grouped median (prefix-sum
    # pyramid) and the integer-only rolling anomaly window
    "group_median_bp",
    "rolling_zscore",
    # round-6 second wave: one-pass grouped quartiles, Spark 4
    # recursive-CTE rollup, deterministic LPA communities, quantized
    # k-center diversity selection, and the composed mixing pipeline
    "group_quartiles_bp",
    "recursive_rollup",
    "label_propagation",
    "kcenter_diverse",
    "llm_trainprep",
    # round-7 wave: scale-safe twins of the low-cardinality-partition
    # window family — pyramid rank ratios and the day-rekeyed exact
    # rolling z-score
    "rank_ratios_bp",
    "rolling_zscore_bp",
    # round-8 wave: the table-format lifecycle under timing — the
    # incremental-MV maintenance loop (3 commits + 3 refreshes + a
    # replay), the copy-on-write MERGE commit, the change-data-feed
    # over both physical paths, and clustered compaction; all are
    # write-amplified end-to-end protocols, not pure scans, so their
    # numbers track commit overhead as much as query time
    "snapshot_mv",
    "snapshot_merge",
    "snapshot_cdf",
    "snapshot_compact",
    "snapshot_mv_quantiles",
    # round-9: merge-on-read equality delete — two data commits, a
    # key-file delete commit (zero data rewrites), a surviving
    # post-delete append, and the broadcast-anti-join MOR read
    "snapshot_delete",
    # round-9: OPTIMIZE ZORDER — full rewrite into 8 Morton-range
    # commit dirs plus two manifest-pruned point reads
    "snapshot_zorder",
    # round-9: the composed Gopher/C4 keep-drop ruleset, all regexp
    # counts in whole-stage codegen over the document scan
    "llm_gopher_filter",
    # round-9: LOCF time-weighted average and time-in-state (one
    # lead window + keyed aggregates)
    "twavg",
    "state_agg",
    # round-10: the three REFERENCE pipelines at the reference's own
    # unit of work (one full 100x100 chip) — segment detection, tile
    # training prep + fit, and train-then-predict.  These are the
    # numbers to read against BASELINE.md's ~970 s/chip prediction
    # anchor (blackmagic/blueprints/prediction.py:203-207).
    "lcmap_detect_chip",
    "lcmap_tile_train",
    "lcmap_predict_chip",
    # round-13 rotation (VERDICT r12 item 6): the round-12 operator
    # wave plus SemDeDup enters the headline — winnowing fingerprint
    # near-dup pairs, DSIR importance scoring, the bucketed Pareto
    # skyline, the bit-exact integer IVF, and the composed semantic-
    # dedup funnel.  Nothing retired (the driver diffs common sets).
    # Fitting 87 entries under the driver's 2000-char stdout window
    # required slimming the COMPACT LINE only: 1-decimal medians and
    # no anchor_sec field (full 3-decimal medians, spreads, and all
    # three anchors stay in the committed bench_detail.json) — the
    # zero-fold envelope check is re-pinned in test_bench_output.py.
    "llm_winnow_pairs",
    "llm_dsir_score",
    "pareto_skyline",
    "llm_ann_ivf_exact",
    "llm_semdedup",
    # round 14: residual IVF-PQ + the clustered-fixture recall pin
    # (the recall entry runs index + exact ground truth — the most
    # join-heavy ANN shape in the registry)
    "llm_ann_ivfpq_resid",
    "llm_ann_recall_clustered",
    # round 14 (session 2): filtered vector search — the metadata
    # semi-join into the IVF postings (llm_rrf_fusion stays out of
    # the headline: its cost is bm25_topk + a brute cosine TakeOrdered,
    # both shapes already measured, and the stdout envelope's fold
    # cap binds at 90 entries)
    "llm_ann_filtered",
]


def host_anchor_sec(spark) -> float:
    """A fixed, dataset-free CPU-bound workload (median of 3):
    200M-row arithmetic + hash aggregate through whole-stage codegen.
    Its absolute time tracks the HOST, not this repo's code — rounds
    run on freshly provisioned VMs whose speed has measured ±20%
    (round 7 vs 8: byte-identical queries, uniform ~1.2× shift), so
    consumers should compare `value / anchor_sec` across rounds, and
    `value` alone only within one artifact."""
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        (spark.range(200_000_000)
         .selectExpr("sum(xxhash64(id) % 1000) AS s",
                     "count(if(id % 7 = 0, 1, null)) AS c")
         .write.format("noop").mode("overwrite").save())
        runs.append(time.perf_counter() - t0)
    return round(sorted(runs)[1], 3)


def python_anchor_sec(spark) -> float:
    """The PYTHON-WORKER twin of the JVM anchor: a fixed Arrow-batched
    pandas-UDF aggregate (median of 3).  The round-8 variance hunt
    found the JVM anchor stable across invocations while the
    Arrow/Python-UDF-heavy queries (embed_neardup, minhash_pipeline,
    substr_dedup) swung 2-3× BETWEEN bench processes with identical
    in-process medians — worker-pool state, not code.  A consumer
    seeing those queries move should check this anchor first."""
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("double")
    def _burn(v: pd.Series) -> pd.Series:
        return (v * 2.5 + 1.0) ** 0.5

    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        (spark.range(20_000_000)
         .select(F.sum(_burn(F.col("id").cast("double"))))
         .write.format("noop").mode("overwrite").save())
        runs.append(time.perf_counter() - t0)
    return round(sorted(runs)[1], 3)


def disk_anchor_sec(spark) -> float:
    """The DISK twin of the anchors: a fixed parquet write + read-back
    count (median of 3) against local scratch.  The snapshot_* queries
    are end-to-end commit protocols — their time is dominated by
    writing real parquet files, which the CPU-bound anchor_sec cannot
    see.  Round 10 recorded a 1.3-1.5× 'regression' on exactly that
    cluster (snapshot_mv/merge/zorder) with non-overlapping spreads
    after CPU-anchor normalization; the round-11 bisect re-measured
    every suspect commit solo on ONE host and found NO step — each
    round-10 commit's medians sat at round-9 levels, and the full
    bench at round-11 HEAD landed back inside the round-9 spread.
    The mover was the round-10 VM's storage, invisible to both CPU
    anchors.  Consumers: normalize snapshot_*/write-heavy entries by
    THIS anchor, codegen-bound ones by anchor_sec, Python-UDF-heavy
    ones by python_anchor_sec."""
    import shutil
    import tempfile

    runs = []
    for _ in range(3):
        d = tempfile.mkdtemp(prefix="bench_disk_anchor_")
        t0 = time.perf_counter()
        (spark.range(2_000_000)
         .selectExpr("id", "CAST(id % 97 AS STRING) AS s",
                     "id * 2.5 AS x")
         .repartition(8)
         .write.mode("overwrite").parquet(d))
        spark.read.parquet(d).selectExpr("count(*)").collect()
        runs.append(time.perf_counter() - t0)
        shutil.rmtree(d, ignore_errors=True)
    return round(sorted(runs)[1], 3)


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def clear_session_state(spark) -> None:
    """Return the long-lived bench session to a clean state between
    repetitions and entries.

    The heavy pipeline queries `localCheckpoint()` 2-3 frames per run
    (registry_pipelines.py:170/:218/:238/:832); each call pins RDD
    blocks in the block manager that are freed only when the
    ContextCleaner notices the py4j reference died — ASYNCHRONOUS
    cleanup that lags badly on a loaded host.  Across 87 entries × 3
    repetitions the dead blocks (plus cached plans) accumulate, and
    the round-13 driver run showed the python-family spreads
    degrading MONOTONICALLY within one query's 3-run loop
    (lcmap_tile_train [3.54, 7.66, 7.91]) while run 1 matched a
    clean-session median — median-of-3 then reports the inflated
    middle run.  So: drop cached plans, synchronously unpersist every
    persistent RDD (localCheckpoint blocks included), and nudge both
    collectors so py4j-held JVM refs actually die before the next
    timed run starts."""
    spark.catalog.clearCache()
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for jrdd in jmap.values():
            jrdd.unpersist()            # blocking: gone BEFORE next run
    except Exception:  # noqa: BLE001 — private API; never fail a bench
        pass
    gc.collect()                        # drop py4j refs driver-side
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:  # noqa: BLE001
        pass


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_session("lcmap-blackmagic-spark-bench")

    # Warm-up: run every headline query once at the smallest SF. The
    # generated whole-stage-codegen classes are keyed by plan shape,
    # not input path, so this compiles them once and the measured runs
    # hit the codegen cache — standard steady-state benching.
    spark.range(1000).selectExpr("sum(id)").collect()
    warm_dir = "/root/testdata/sf0.001"
    warm = warm_dir if os.path.isdir(warm_dir) else sf_dir
    # Per-query fault isolation: one broken query must not zero out the
    # whole artifact — a bench that reports "21 of 22 measured, 1
    # failed" is strictly better than rc:1 with no numbers. A warm-up
    # failure does NOT skip the query: the warm fixture is a DIFFERENT
    # dataset (older generation, other encoding), so the measured runs
    # on sf_dir still get their own attempt and their own error record.
    for name in HEADLINE:
        try:
            materialize(QUERIES[name]["fn"](spark, warm))
        except Exception:  # noqa: BLE001 — warm fixture only; continue
            pass
        clear_session_state(spark)

    # median-of-3: steady-state timing is what matters (GC pauses,
    # JIT recompiles, and first-touch parquet footer reads produced
    # 2-6× outliers on whichever heavy query ran first — round 6's
    # artifact showed a 3.9× phantom regression on UNTOUCHED code).
    # The first run doubles as the sf_dir warm-up (the sf0.001 pass
    # above only compiles codegen; it never touches these files), and
    # the median absorbs any one outlier in either direction.  The
    # full [min, median, max] spread is recorded per query so a
    # round-over-round diff can tell noise from regression.
    per_query: dict[str, object] = {}
    spread: dict[str, list] = {}
    total = 0.0
    for name in HEADLINE:
        fn = QUERIES[name]["fn"]
        runs = []
        # label the jobs (guide §1.5) so UI/event-log forensics can
        # attribute stages to queries; set OUTSIDE the timed window
        spark.sparkContext.setJobDescription(f"bench:{name}")
        try:
            for _ in range(3):
                t0 = time.perf_counter()
                materialize(fn(spark, sf_dir))
                runs.append(time.perf_counter() - t0)
                # OUTSIDE the timed window: run 2 must start from run
                # 1's clean state, not its leftover checkpoint blocks
                clear_session_state(spark)
        except Exception as exc:  # noqa: BLE001
            per_query[name] = {
                "err": f"{type(exc).__name__}: {exc}".splitlines()[0][:300]}
            clear_session_state(spark)
            continue
        runs.sort()
        dt = round(runs[1], 3)                  # median of 3
        per_query[name] = dt
        spread[name] = [round(runs[0], 3), dt, round(runs[-1], 3)]
        total += dt
    spark.sparkContext.setJobDescription(None)

    detail = {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": per_query,
        "spread": spread,
        "sf": sf,
        "anchor_sec": host_anchor_sec(spark),
        "python_anchor_sec": python_anchor_sec(spark),
        "disk_anchor_sec": disk_anchor_sec(spark),
    }
    failed = sorted(n for n, v in per_query.items() if isinstance(v, dict))
    if failed:
        # name the failures at top level so a partial total cannot be
        # compared against a clean run by accident — a consumer diffing
        # "value" across rounds sees "failed_queries" right beside it
        detail["errors"] = len(failed)
        detail["failed_queries"] = failed
    # bench_detail.json and the BENCH_FAMILIES.json derived from it
    # are written in one step, so no commit can hold half the pair
    repo = os.path.dirname(os.path.abspath(__file__))
    fams = families(detail)
    for name, doc in (("bench_detail.json", detail),
                      ("BENCH_FAMILIES.json", fams)):
        with open(os.path.join(repo, name), "w") as fh:
            json.dump(doc, fh, indent=1)

    # The driver captures only the LAST 2000 characters of stdout and
    # parses the JSON line out of that window — round 8's line (74
    # queries x [min, median, max] spreads) overran it and the round's
    # artifact recorded parsed:null, i.e. NO bench numbers at all.  So
    # the printed line is a compact summary (1-decimal medians, tight
    # separators) hard-capped below the window, and the full spreads /
    # anchors / error strings live in bench_detail.json (committed).
    #
    # Round-15 envelope fix (VERDICT r14 item 2): the r14 valve cap of
    # 1900 folded FIVE sub-second entries at the 90-entry headline and
    # PERF_r14 duly reported them dropped_from_bench — a reporting
    # defect this line must not repeat.  Two changes restore the full
    # per-query map: integral medians print as ints ("11" not "11.0",
    # ~20 chars across a typical map, and `value` is 1-decimal here —
    # 3-decimal stays in bench_detail.json), and the cap is 1980.
    # Margin evidence, not hope: the driver's captured tail is
    # EXACTLY 2000 chars in both committed artifacts (BENCH_r13/r14
    # "tail"), and in both the JSON line plus one newline ENDS the
    # window — nothing ever printed after it — so a 1980-char line
    # leaves 19 chars of post-line tolerance where history used 1.
    # The typical 90-entry line is ~1930 chars and even a 15-heavy
    # (≥10 s) map is ~1967: ZERO folds in any observed or realistic
    # shape.  The valve stays as the last resort for a host meltdown
    # or a mass-failure ERR map.
    def compact(v):
        if not isinstance(v, (int, float)):     # {"err": ...}
            return "ERR"
        r = round(v, 1)
        return int(r) if r == int(r) else r

    out = {
        "metric": "headline_queries_total",
        "value": round(total, 1),
        "unit": "sec",
        "queries": {n: compact(v) for n, v in per_query.items()},
        "sf": sf,
        # anchor_sec / python_anchor_sec / disk_anchor_sec live in
        # bench_detail.json only (committed every round): the compact
        # line's 90-entry map leaves no slack for another key
    }
    if failed:
        out["errors"] = len(failed)
    line = json.dumps(out, separators=(",", ":"))
    while len(line) > 1980 and out["queries"]:
        # Fold valve (last resort only — see the envelope note): fold
        # the fastest queries into one residual bucket until the line
        # fits — a coarse artifact beats an unparseable one.  Fold
        # order is by time so the heavy, informative entries — the
        # ones diffed round-over-round — always survive.
        # test_bench_output.py pins the realistic envelope at ZERO
        # folds and bounds the pathological shapes.
        q = out["queries"]
        victim = min((n for n, v in q.items()
                      if isinstance(v, (int, float))),
                     key=lambda n: q[n], default=None)
        if victim is None:
            # only "ERR" entries left: fold them too (their names are
            # in bench_detail.json's failed map) — never print a line
            # the driver's 2000-char tail parser would drop
            err = next((n for n, v in q.items()
                        if not isinstance(v, (int, float))), None)
            if err is None:
                break
            q.pop(err)
            out["errors_folded"] = out.get("errors_folded", 0) + 1
        else:
            out["fast_other_sec"] = round(
                out.get("fast_other_sec", 0.0) + q.pop(victim), 2)
            out["fast_other_n"] = out.get("fast_other_n", 0) + 1
        line = json.dumps(out, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
