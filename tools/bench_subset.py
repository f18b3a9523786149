"""Time a subset of registered queries under bench.py's exact conditions:
shared-index lane built first (warm), min-of-two, noop-sink force,
$SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS respected.

Usage: python tools/bench_subset.py query [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark import (  # noqa: E402
    queries as q,
)
from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.session import (  # noqa: E402
    get_spark,
)


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench-subset")
    spark.sparkContext.setLogLevel("ERROR")

    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.domain import (  # noqa: E402
        TABLES,
    )
    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.operators import (  # noqa: E402
        dedup,
        similarity,
    )
    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.queries import (  # noqa: E402
        PQ_KSUB_WIDE,
    )
    from connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark.sources.catalog import (  # noqa: E402
        load_table,
    )

    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    force(q.QUERIES["igniter_pick"](spark, sf_dir))

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    dedup.shared_shingle_table(docs)
    dedup.shared_band_index(docs)
    _centroids, _assignments = similarity.ivf_build_cached(emb)
    similarity.float_topf_cached(emb, _centroids, _assignments)
    similarity.pq_codes_cached(emb)
    similarity.pq_residual_codes_cached(emb, _centroids, _assignments)
    similarity.pq_residual_codes_cached(
        emb, _centroids, _assignments, ksub=PQ_KSUB_WIDE
    )

    # release per-query checkpoint blocks between queries exactly like
    # bench.py, so later queries in a subset do not run under the storage
    # pressure of earlier ones
    import bench

    times: dict[str, list[float]] = {}
    for _pass in range(2):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench-subset: {name}")
            t0 = time.perf_counter()
            force(q.QUERIES[name](spark, sf_dir))
            times.setdefault(name, []).append(
                round(time.perf_counter() - t0, 3)
            )
            spark.sparkContext.setJobDescription(None)
            bench.release_checkpoints(spark)  # untimed inter-query cleanup
    print(
        json.dumps(
            {n: {"min": min(v), "runs": v} for n, v in times.items()}
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
