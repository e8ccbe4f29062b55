"""Headline benchmark — one JSON line on stdout.

Runs the engine's flagship queries at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``.
Each query executes end-to-end (collect of the — small — result);
value = total wall seconds across the headline set.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd  # module-level: pandas_udf type hints resolve via globals

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from traffic_forecast_etl_spark.plans.catalog import QUERIES
from traffic_forecast_etl_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_volume",
    "j1_composite_key_join",
    "j6_asof_join",
    "a2_minmax_normalize",
    "w5_tumbling_window",
    "w7_sessionize",
    "d1_exact_dedup",
    "d2_minhash_lsh",
    "d4_ngram_jaccard",
    "s1_cosine_topk",
    "s2_lsh_ann",
    "d5_embedding_neardup",
    # the RECOMMENDED end-to-end dedup path (LSH -> connected
    # components -> anti-join), tracked whole — appended so earlier
    # per-query keys stay comparable across rounds
    "d6_near_dedup_filter",
    "t1_token_stats",
    "t2_quality_score",
    "t4_fingerprint",
    "m1_media_features",
    # round-2 capability families, appended so earlier per-query keys
    # stay comparable across rounds
    "t10_char_entropy",
    "c2_decontaminate",
    "d7_stratified_sample",
    "w13_resample_interpolate",
    "a14_linear_trend",
    "j9_asof_nearest",
    "d10_table_diff",
    "w14_seasonal_anomaly",
    "c6_adaptive_quality_gate",
    "a15_equi_width_histogram",
    "j10_interval_overlap",
    # round-3 additions (appended, earlier keys stay comparable): the
    # two remaining scale-path ANN/near-dup variants, so the scaling
    # section below has big-sf numbers for the whole family
    "d11_embedding_neardup_lsh",
    "s3_ivf_ann",
    # round-3 additions: segment-level boilerplate removal +
    # content-defined duplicated-span detection
    "d13_segment_dedup",
    "d14_duplicate_spans",
    # round-4 additions: SemDeDup embedding-space dedup, unigram LM
    # quality scoring, embedding-space decontamination
    "d15_semantic_dedup",
    "t13_unigram_logprob",
    "c7_embedding_decontaminate",
    # round-5 addition: stupid-backoff bigram LM quality scoring
    "t15_bigram_logprob",
    # round-5 second wave: fuzzy entity join (k-deletion blocking),
    # corpus-level duplicate-n-gram contamination metric, first-class
    # connected components over the exact-Jaccard graph
    "j11_edit_distance_join",
    "t16_corpus_dup_ngrams",
    "g1_connected_components",
    # round-5 third wave: BM25 retrieval scoring, cross-source
    # priority dedup, JL sign random projection
    "t17_bm25_search",
    "d16_priority_dedup",
    "s5_random_projection",
    # round-5 fourth wave: model-based quality classifier (hashed-BoW
    # logistic regression), leakage-safe component-hashed split
    "c8_quality_classifier",
    "c9_leakage_safe_split",
    # round-5 fifth wave: BPE round-1 pair statistics (the aggregate
    # every training merge round reruns; t19's 24-round trainer loop
    # is deliberately NOT a headline — it times 48 driver-synchronous
    # tiny jobs, i.e. scheduler overhead, not data-plane throughput)
    "t18_bpe_pair_freq",
    "c10_blocklist_filter",
    "t20_line_dedup",
    # round-6 addition: DSIR importance resampling (weights are a
    # map-only scoring pass under a literal ratio table; resample adds
    # the Gumbel top-k). c12 subsumes c11's weight pass, so only the
    # end-to-end selection is a headline.
    "c12_dsir_resample",
    # round-7 addition: IVF-PQ ANN (compressed inverted lists + ADC
    # shortlist + exact refine). st7/tf1 (the snapshot CDF loop) are
    # deliberately NOT headlines for the same reason as t19: they time
    # a dozen driver-synchronous snapshot commits — scheduler/commit
    # overhead, not data-plane throughput; their correctness is
    # oracle-gated and their commit costs are measured in SCALE.md.
    # tf2 (hidden partitioning) and s7 (persistent ANN index) join
    # that exclusion: both are snapshot-commit loops end-to-end; the
    # pruning they exist for is pinned structurally (admitted-file
    # counts) and measured in SCALE.md.
    "s6_ivf_pq_ann",
    # round-7 later-session additions: HTML extraction (map-only
    # regex chain over documents) and exact-substring span trim
    # (anchor sampling + df count + gap-stitch) — both data-plane
    # compute. tf3/tf4/st9 stay out per the snapshot-commit-loop
    # exclusion above; their pruning/gating value is pinned
    # structurally and measured in SCALE.md.
    "t21_html_extract",
    "d17_trim_duplicate_spans",
    # round-8/9 interop keys (tf5-tf8, sql1-sql5) stay out under the
    # same exclusion: each times temp-table writes + metadata commits
    # (Delta/Iceberg tree synthesis, DV delete loops), i.e. commit
    # overhead, not data-plane throughput. Their correctness is
    # oracle-gated; metadata-plane costs are measured in SCALE.md.
]

# the dedup/ANN/text family whose scaling slope matters at 100 TB —
# timed at a second, smaller scale factor so the reported exponent
# (log time-ratio / log data-ratio) is measured, not asserted.
SCALING_KEYS = [
    "d1_exact_dedup",
    "d2_minhash_lsh",
    "d4_ngram_jaccard",
    "d6_near_dedup_filter",
    "d11_embedding_neardup_lsh",
    "s2_lsh_ann",
    "s3_ivf_ann",
    "t1_token_stats",
    "t2_quality_score",
    "c2_decontaminate",
    "d13_segment_dedup",
    "d14_duplicate_spans",
    "d15_semantic_dedup",
    "t13_unigram_logprob",
    "t15_bigram_logprob",
]

# the second scale point for each primary sf dir (one decade down —
# times at the small point include ~0.1-0.3s of fixed per-query
# overhead, so exponents are lower bounds; see SCALE.md)
_SMALL_SF = {
    "/root/testdata/sf0.1": "/root/testdata/sf0.01",
    "/root/testdata/sf0.01": "/root/testdata/sf0.001",
}


def _code_fingerprint() -> str:
    """Hash of the engine package (same convention as
    tools/scale_bench.py): floor campaigns in BENCH_FLOORS.json are
    only min-merged when the fingerprint matches, so an operator
    rewrite can't inherit stale minima from the old implementation."""
    import hashlib

    pkg = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "traffic_forecast_etl_spark"
    )
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(pkg)):
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(root, name), "rb") as f:
                    h.update(name.encode())
                    h.update(f.read())
    return h.hexdigest()[:16]


def _floors_main(only: list[str], campaigns: int) -> None:
    """Subset floor campaign (VERDICT r6 #3): time ONLY the named
    headline keys, with the same warmup/settle discipline as the full
    run, and min-merge the results into BENCH_FLOORS.json keyed by
    the engine-code fingerprint. Repeated invocations across
    epochs/days tighten the floors; a fingerprint change starts a
    fresh floor set (stale minima from old code never survive).
    Does NOT touch BENCH_DETAIL.json or the driver's headline line."""
    unknown = [k for k in only if k not in QUERIES]
    if unknown:
        raise SystemExit(f"--only keys not in catalog: {unknown}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    fp = _code_fingerprint()
    floors_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FLOORS.json"
    )
    state = {"fingerprint": fp, "sf_dir": sf_dir, "floors": {}, "campaigns": {}}
    if os.path.exists(floors_path):
        with open(floors_path) as f:
            prior = json.load(f)
        if prior.get("fingerprint") == fp and prior.get("sf_dir") == sf_dir:
            state = prior
    spark = get_spark("bench")
    QUERIES["a3_profile"](spark, sf_dir).collect()
    from pyspark.sql import functions as F, types as T

    @F.pandas_udf(T.LongType())
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(1000).repartition(32).select(_warm("id")).collect()
    for name in only:
        QUERIES[name](spark, sf_dir).collect()
        spark.catalog.clearCache()
    for c in range(campaigns):
        for name in only:
            best, spread = _timed(spark, QUERIES[name], sf_dir)
            old = state["floors"].get(name)
            state["floors"][name] = round(
                best if old is None else min(old, best), 3
            )
            state["campaigns"][name] = state["campaigns"].get(name, 0) + 1
            print(
                json.dumps(
                    {
                        "key": name,
                        "campaign": c,
                        "min_sec": round(best, 3),
                        "spread": round(spread, 2),
                        "floor": state["floors"][name],
                    }
                )
            )
    with open(floors_path, "w") as f:
        json.dump(state, f, indent=2)
    print(json.dumps({"metric": "floors", "value": state["floors"], "fingerprint": fp}))


def _settle(spark) -> None:
    """Quiesce between measurements: dropping a query's persisted
    intermediates (clearCache) is ASYNC — block removal and context-
    cleaner churn otherwise bleed into the NEXT run's stopwatch
    (measured: d4 read 10x its isolated time when timed right after
    the cache-heavy d2 runs). Force the JVM GC and run a barrier job
    so cleanup completes first."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    spark.range(1000).count()


def _timed(spark, fn, sf_dir: str) -> tuple[float, float]:
    """Min + spread of repeated runs, outlier-robust: 3 runs, and
    while the max/min spread exceeds 2x (a transient JVM stall, not
    the plan under test) run up to 3 more; runs >2x the min are then
    discarded before computing the reported spread. Returns
    (min_sec, spread) where spread = kept-max / min."""
    runs: list[float] = []
    while True:
        t0 = time.time()
        rows = fn(spark, sf_dir).collect()
        runs.append(time.time() - t0)
        assert rows is not None
        _settle(spark)
        if len(runs) >= 3 and (max(runs) <= 2 * min(runs) or len(runs) >= 6):
            break
    best = min(runs)
    kept = [r for r in runs if r <= 2 * best]
    return best, max(kept) / best


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    timings: dict[str, float] = {}
    # warm the JVM/codegen path and the Python-UDF worker pool once so
    # the first headline numbers aren't paying session bring-up
    # (workers are reused afterwards: spark.python.worker.reuse).
    QUERIES["a3_profile"](spark, sf_dir).collect()
    from pyspark.sql import functions as F, types as T

    @F.pandas_udf(T.LongType())
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(1000).repartition(32).select(_warm("id")).collect()
    # untimed warmup pass: the first execution of each plan pays janino
    # codegen compilation AND HotSpot-interpreted Catalyst/codegen paths
    # (measured 3-10x on the expression-heavy dedup plans). One full
    # pass brings the JVM to steady state; the timed runs below then
    # measure sustained throughput — the number that matters at scale,
    # where minutes of JIT amortize against hours of work.
    for name in HEADLINE:
        QUERIES[name](spark, sf_dir).collect()
        # drop caches the query persisted: each bench invocation
        # builds a fresh plan, so leaked persist() entries accumulate
        # across the suite — dozens of live cache entries both hold
        # memory and make every later plan compilation walk the
        # CacheManager for canonical-subtree matches (measured: up to
        # 2x inflation on the expression-heavy LSH plans). Queries are
        # measured cache-isolated, like the driver runs them.
        spark.catalog.clearCache()
    spreads: dict[str, float] = {}
    for name in HEADLINE:
        best, spread = _timed(spark, QUERIES[name], sf_dir)
        timings[name] = round(best, 3)
        spreads[name] = round(spread, 2)
    total = round(sum(timings.values()), 3)

    # d6 warm twin: d6's timed runs above go through _timed, which
    # settles (clearCache + GC) between runs. The warm twin is
    # steady-state REPEATED invocation in one session: run 1 untimed,
    # runs 2..4 timed back to back without settling, so the line
    # reports d6 with a hot JVM and codegen cache. The operator keeps
    # no cache entries between calls (its only materialization is an
    # eager localCheckpoint released with the frame), so nothing
    # besides the JVM carries over from run to run.
    from traffic_forecast_etl_spark.operators import dedup as D
    from traffic_forecast_etl_spark.sources.tables import load_table

    def _d6_warm(spark, sf_dir):
        docs = load_table(spark, "documents", sf_dir)
        return D.near_dedup_filter(docs, "text", "doc_id").select(
            "doc_id", "lang", "n_chars"
        )

    _d6_warm(spark, sf_dir).collect()
    warm_runs = []
    for _ in range(3):
        t0 = time.time()
        _d6_warm(spark, sf_dir).collect()
        warm_runs.append(time.time() - t0)
    d6_warm = min(warm_runs)
    _settle(spark)

    # second scale point for the dedup/ANN/text family: measured slope
    # exponent = log(t_big/t_small) / log(sf_big/sf_small); small-point
    # times carry fixed overhead, so exponents are lower bounds.
    small_dir = _SMALL_SF.get(sf_dir.rstrip("/"))
    queries_small: dict[str, float] = {}
    scaling: dict[str, float] = {}
    if small_dir and os.path.isdir(small_dir):
        import math

        for name in SCALING_KEYS:
            QUERIES[name](spark, small_dir).collect()  # warm this plan
            spark.catalog.clearCache()
            best, _ = _timed(spark, QUERIES[name], small_dir)
            queries_small[name] = round(best, 3)
            scaling[name] = round(math.log(timings[name] / best) / math.log(10.0), 2)

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full detail goes to a FILE; stdout carries only the compact
    # headline line, printed LAST. The driver records the tail of
    # stdout (~2000 chars) and parses the final JSON line — round 3's
    # all-in-one line outgrew that capture and the round lost its
    # machine-readable headline value (VERDICT r3 #1).
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "spread": spreads,
        "d6_warm_sec": round(d6_warm, 3),
        "sf_small": small_dir,
        "queries_small": queries_small,
        "scaling_exponent": scaling,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=2)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
                "detail": "BENCH_DETAIL.json",
            }
        )
    )


if __name__ == "__main__":
    _only: list[str] | None = None
    _campaigns = 1
    for _a in sys.argv[1:]:
        if _a.startswith("--only="):
            _only = _a.split("=", 1)[1].split(",")
        elif _a.startswith("--campaigns="):
            _campaigns = int(_a.split("=", 1)[1])
    if _only:
        _floors_main(_only, _campaigns)
    else:
        main()
