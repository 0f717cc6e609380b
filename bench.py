"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes to completion via a noop sink (full plan runs, no
driver collect overhead distorting the numbers).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# 42 compiled whole-stage-codegen plans (21 headline x 2 passes, plus
# warm-up) overflow the JVM's default 240 MB reserved code cache,
# which silently stops JIT compilation for late-positioned queries —
# measured round 9: x5 (last in the list) runs 2.23 s in-context vs
# 1.89 s isolated at EQUAL ambient load, and 1 GB of code cache
# recovers ~40 % of that gap (2.07-2.13 s). Standard long-session JVM
# tuning, applied before the JVM launches; set SPARK_SUBMIT_OPTS
# yourself to override.
os.environ.setdefault("SPARK_SUBMIT_OPTS", "-XX:ReservedCodeCacheSize=1g")

from hi_csa_db_spark.session import codegen_compilations, get_spark
import __spark_entry__ as entrymod

# Headline set: the scale-sensitive queries (big shuffles, joins,
# windows, dedup, similarity). Cheap metadata-ish queries are excluded
# so the number reflects real work.
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "j1_lookup_join",
    "j2_keyword_classify",
    "j3_star_join",
    "j4_forward_fill",
    "t1_tumbling_window",
    "t2_sessionize",
    "x1_token_explode_topk",
    "graph_bfs_reachability",
    "graph_degrees",
    "d1_exact_dedup",
    "d2_minhash_lsh_pairs",
    "d3_ngram_jaccard_topk",
    "d4_simhash",
    "s1_cosine_topk",
    "s2_ivf_topk",
    "x2_lang_id",
    "x3_quality_score",
    "x4_token_stats",
    "x5_fingerprints",
]

# The most expensive NON-headline composites (VERDICT r6 item 7): the
# 21-query headline set above is frozen for cross-round comparability,
# but these are where the heaviest current code lives, so their wall
# times are tracked round-over-round in a separate "extras" field.
# Disable with SPARK_GRAFT_BENCH_EXTRAS=0 (they never contribute to
# the headline "value" metric either way).
HEAVY_EXTRAS = [
    "d10_quality_survivors",
    "pipe_training_prep_v3",
    "pipe_training_prep_v7",
    "graph_components_star",
]


def host_speed_probe() -> float:
    """Single-core md5 loop wall time (sec). A fixed amount of pure-CPU
    work, so the value indexes THIS host's speed: dividing the headline
    total by (probe / recorded-probe) normalizes bench numbers across
    rounds that land on differently-loaded machines. Recorded values
    live next to each bench entry in BASELINE.md."""
    import hashlib

    t0 = time.time()
    h = b"x" * 1000
    for _ in range(200000):
        h = hashlib.md5(h).digest() + b"pad" * 100
    return round(time.time() - t0, 3)


def _family(name: str) -> str:
    """Bench family = the query-id prefix (q3 -> q, d10 -> d,
    graph_degrees -> graph)."""
    return name.split("_", 1)[0].rstrip("0123456789")


def _family_fence(spark) -> None:
    """GC fence between bench families (VERDICT r8 item 7): the r7/r8
    x5 inflation (+39 % normalized, two rounds of adjudication) was
    shared-JVM GC pressure from the dedup family running just before
    it — the plan itself was unchanged. Forcing a JVM GC OUTSIDE the
    timed region makes each family's numbers context-independent
    round over round.

    Deliberately GC-ONLY: an A/B run (round 9, BASELINE.md) showed
    that also clearCache()-ing here destroys the cross-pass cache
    reuse the min-of-2-passes regime has always measured (graph_bfs
    1.5 s -> 3.0 s, d2 1.1 s -> 2.8 s), which would break
    comparability with every recorded round. SPARK_GRAFT_BENCH_FENCE:
    1 (default) = GC only; 0 = no fence; "cold" = GC + clearCache
    (per-query cold-cache regime, reported separately, never compared
    against the warm history)."""
    mode = os.environ.get("SPARK_GRAFT_BENCH_FENCE", "1")
    if mode == "0":
        return
    if mode == "cold":
        spark.catalog.clearCache()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("hi-csa-db-bench")
    qs = entrymod.queries()
    # Warm-up: run every headline plan once at sf0.001 (~100x smaller).
    # Identical plan shapes => whole-stage-codegen classes compile into
    # Spark's codegen cache (spark.sql.codegen.cache.maxEntries, sized
    # in session.py to hold the ~450 classes the headline and extras
    # generate) and JIT warms on the tiny data, so the measured pass
    # below reflects steady-state execution (what a long-lived cluster
    # session sees), not first-compile overhead. Warm-up is excluded
    # from the metric; "codegen_compilations" in the output counts the
    # classes each pass still compiled.
    compiled: dict[str, int] = {}
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if os.path.isdir(warm_dir):
        c0 = codegen_compilations(spark)
        for name in HEADLINE:
            try:
                qs[name](spark, warm_dir).write.format("noop").mode("overwrite").save()
            except Exception:
                pass
        compiled["warmup"] = codegen_compilations(spark) - c0
    # drop any cached blocks the warm-up left behind so the measured
    # pass starts from a clean block manager
    spark.catalog.clearCache()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    # Two measured passes, report the per-query MIN: single-session
    # runs see multi-second GC/scheduling spikes on individual queries
    # (observed: the same d2 plan at 5.2 s and 13.6 s within minutes,
    # 1.3 s isolated) — the min is the steady-state execution time the
    # plan actually costs, which is what the cross-round comparison is
    # meant to track.
    timings: dict[str, float] = {}
    for _pass in range(2):
        c0 = codegen_compilations(spark)
        prev_family = None
        for name in HEADLINE:
            fam = _family(name)
            if prev_family is not None and fam != prev_family:
                _family_fence(spark)
            prev_family = fam
            fn = qs[name]
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            if name not in timings or dt < timings[name]:
                timings[name] = dt
        compiled[f"pass{_pass + 1}"] = codegen_compilations(spark) - c0
    total = sum(timings.values())
    extras: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_EXTRAS", "1") != "0":
        c0 = codegen_compilations(spark)
        for name in HEAVY_EXTRAS:
            if name not in qs:
                continue
            _family_fence(spark)
            try:
                t0 = time.time()
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                extras[name] = round(time.time() - t0, 3)
            except Exception:
                extras[name] = -1.0
        compiled["extras"] = codegen_compilations(spark) - c0
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "extras": extras,
                "extras_total": round(sum(v for v in extras.values() if v > 0), 3),
                "passes": 2,
                "codegen_compilations": compiled,
                "family_fence": os.environ.get(
                    "SPARK_GRAFT_BENCH_FENCE", "1"
                ),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "host_md5_sec": host_speed_probe(),
                "env": __import__(
                    "hi_csa_db_spark.envinfo", fromlist=["env_fingerprint"]
                ).env_fingerprint(),
            }
        )
    )


if __name__ == "__main__":
    main()
