"""Scale-curve probe: times a focused query set across scale-factor dirs
and runs the prefix-sum-vs-global-window experiment the r10 verdict asked
for. Complements bench.py (full suite, one sf) with the CURVE: the same
query at sf0.1 → sf1 → sf10 shows whether the plan's cost grows linearly
and where each `_scaled` sketch twin crosses over its exact accuracy
reference.

Usage:
    python tools/scale_probe.py OUT.json DIR1 [DIR2 ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark import (  # noqa: E402
    queries as q,
)
from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.session import (  # noqa: E402
    get_spark,
)

#: exact-vs-sketch twins (the crossover story) + the heaviest structural
#: plans (prefix sum, sessionize, LSH index, IVF) + a pushdown scan agg
PROBE = [
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "source_overlap_kmv",
    "source_overlap_kmv_scaled",
    "join_cardinality",
    "join_cardinality_scaled",
    "events_profile",
    "events_profile_scaled",
    "events_key_skew",
    "events_key_skew_scaled",
    "price_quantiles",
    "price_quantiles_scaled",
    "corpus_stats",
    "corpus_stats_scaled",
    "parts_abc_pareto",
    "peak_concurrency",
    "events_sessionize",
    "dedup_minhash_lsh",
    "dedup_exact",
    "ann_ivf_topk",
    "weighted_sample",
    # r12 extension (VERDICT r11 item 6): the heavy dedup family —
    # the operators most likely to hide an IVF-style quadratic —
    # plus the r11 analytics additions and the funnel/gapfill grids
    "dedup_funnel",
    "dedup_ngram_jaccard",
    "dedup_incremental",
    "dedup_containment",
    "minhash_recall_sweep",
    "ann_recall_sweep",
    "substring_dedup",
    "semantic_dedup",
    "frame_dedup",
    "events_daily_gapfill",
    "funnel_latency",
    "cohort_ltv",
    "revenue_gini",
    "customer_revenue_bands",
    "events_changepoint",
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def pareto_window_variant(spark, sf_dir: str):
    """abc_pareto with the BANNED shape: the cumulative revenue from ONE
    unpartitioned global window (whole part relation through one task) —
    the r9 defect, kept here as the experiment control. Same reduction,
    same exact-decimal classification."""
    from pyspark.sql import Window

    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.sources.catalog import (
        load_table,
    )

    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    d = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    rev = (
        lineitem.groupBy("l_partkey")
        .agg(F.sum(d).alias("revenue"))
        .join(part.select(F.col("p_partkey").alias("l_partkey")), "l_partkey")
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("l_partkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = rev.withColumn("cum", F.sum("revenue").over(w))
    total = cum.agg(F.max("cum").alias("total"))
    classed = cum.crossJoin(F.broadcast(total)).select(
        "revenue",
        F.when(F.col("cum") * 5 <= F.col("total") * 4, F.lit("A"))
        .when(F.col("cum") * 20 <= F.col("total") * 19, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
        "total",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("revenue").cast("double").alias("class_revenue"),
            F.round(
                (F.sum("revenue") / F.max("total")).cast("double"), 6
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


def main() -> None:
    out_path = sys.argv[1]
    dirs = sys.argv[2:]
    if len(dirs) > 1:
        # ONE JVM PER SF DIR: a shared session carries the previous dir's
        # cached tables, session-shared indexes and heap fragmentation into
        # the next dir's timings (measured: price_quantiles_scaled read
        # 12.0s in a shared session vs 2.3s isolated — 5x pure GC noise).
        # The resume-from-JSON behavior makes per-dir subprocesses free.
        import subprocess

        for d in dirs:
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), out_path, d],
                check=True,
            )
        return
    spark = get_spark("scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, dict[str, float]] = {}
    if os.path.exists(out_path):  # resume: keep already-probed sf dirs
        with open(out_path) as f:
            results = json.load(f)
    for sf_dir in dirs:
        from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.domain import (
            TABLES,
        )
        from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.functions import (
            dfcache,
        )
        from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.sources.catalog import (
            load_table,
        )

        for t in TABLES:
            load_table(spark, sf_dir, t).count()
        times: dict[str, float] = {}
        for name in PROBE:
            secs = []
            for _ in range(2):
                t0 = time.perf_counter()
                force(q.QUERIES[name](spark, sf_dir))
                secs.append(round(time.perf_counter() - t0, 3))
            times[name] = min(secs)
            print(f"[probe] {sf_dir} {name}: {times[name]}s", file=sys.stderr)
            results[sf_dir] = times
            with open(out_path, "w") as f:  # flush partials: an OOM at
                json.dump(results, f, indent=1)  # sfN keeps sfN-1's curve
        # the experiment: banned global-window cumsum vs the shipped
        # range-partitioned prefix sum (parts_abc_pareto above)
        secs = []
        for _ in range(2):
            t0 = time.perf_counter()
            force(pareto_window_variant(spark, sf_dir))
            secs.append(round(time.perf_counter() - t0, 3))
        times["parts_abc_pareto_GLOBAL_WINDOW_CONTROL"] = min(secs)
        results[sf_dir] = times
        print(json.dumps({sf_dir: times}))
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
