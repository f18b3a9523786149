"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]``; the same configs are what we'd ship on a
1000-executor cluster: AQE on (runtime partition coalescing + skew-join
splitting), modest shuffle partitions for local runs (cluster deployments
override ``spark.sql.shuffle.partitions`` or rely on AQE's coalescing),
Arrow enabled for the few Pandas-UDF paths (multimodal codec plumbing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .sources.catalog import _REQUIRED_CONFS


def _default_cpus() -> str:
    """``SPARK_GRAFT_CPUS``, else the number of CPUs this process may run on."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def _default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else a quarter of physical memory in whole
    GiB, clamped to 1-8g (the Python workers and the OS need the rest)."""
    quarter_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 4 // 2**30
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{min(max(quarter_gib, 1), 8)}g"


def get_spark(app_name: str = "connexion-batch-engine", cpus: str | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Settings chosen for scale:

    - ``spark.sql.adaptive.enabled`` + skewJoin: runtime re-plan keeps skewed
      batch keys (one giant batch among millions) from stalling a stage.
    - ``spark.sql.shuffle.partitions``: sized to the local core count here;
      at 100 TB you size this to ~2-3x total cores or let AQE coalesce.
    - ``spark.sql.autoBroadcastJoinThreshold`` stays at default (10 MB) —
      we additionally place explicit ``broadcast()`` hints on dimension
      tables so plans stay broadcast even when stats are missing.
    - Arrow execution for Pandas UDFs (multimodal codec path).
    """
    cpus = cpus or _default_cpus()
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        # Janino compiled-class cache (static conf, Spark default 100
        # entries). This engine runs ~200 distinct queries per suite at
        # ~5-10 codegen units each, so at the default size every pass
        # after the first recompiles nearly every WholeStageCodegen unit
        # from scratch. r12 measured the recompile tax (~25% of
        # steady-state wall on an 80-query x 3-pass A/B) but reverted
        # because one full-suite run at 4096 stalled episodically and the
        # JVM code-cache confound (-XX:ReservedCodeCacheSize) could not
        # be separated in budget. r13 ran the paired experiment the r12
        # verdict asked for — full 196-query suite, 4096 entries WITH
        # ReservedCodeCacheSize=512m, twice: 204.7 s / 206.7 s vs 250.0 s
        # at the defaults, no stall in either run. Defaults flipped; a
        # compile cache, not a result cache — every run still computes
        # from parquet, and the value is core-count-independent (per-JVM
        # compile time), so the driver's multi-CPU bench stays comparable.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # JVM code cache for the compiled classes the Janino cache keeps
        # alive: thousands of live generated classes at a 4096-entry
        # codegen cache pressure the JIT's code cache (default 240 MB on
        # JDK17) — the r12 confound. 512m costs virtual reservation only
        # (committed lazily). Only effective before JVM launch (first
        # get_spark in the process).
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=512m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # nanosAsLong, UTC session time zone, InferFiltersFromGenerate
        # exclusion — declared and explained in sources/catalog.py
        .config(map=_REQUIRED_CONFS)
        .config("spark.driver.memory", _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
