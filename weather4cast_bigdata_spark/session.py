"""SparkSession factory with scale-oriented defaults.

Test/bench environments run ``local[$SPARK_GRAFT_CPUS]`` (single JVM),
but every setting here is chosen to survive a 1000-executor cluster on
~100 TB:

- AQE on (runtime coalesce + skew-join splitting) so the static
  ``shuffle.partitions`` choice is a ceiling, not a cliff.
- AQE also re-plans persisted plans
  (``canChangeCachedPlanOutputPartitioning``; pyspark exempts them by
  default). Every Python-UDF task pays a fixed start-up cost, about
  0.37 s on a 4-CPU machine whatever its size, so a persisted
  ``mapInPandas`` over a shuffle must run at the coalesced width, not
  on all ``shuffle.partitions`` near-empty tasks. At real scale the
  partitions are MB-sized and the coalesce changes nothing; AQE never
  coalesces an explicit-count ``repartition(n, ...)``.
- Generated-code cache sized to a pass's working set
  (``codegen.cache.maxEntries``). Spark compiles each whole-stage and
  expression class with Janino and keeps it in an LRU keyed by its
  source. One steady pass of the submit path generates ~165 distinct
  classes and one pass of the curation/vector path ~190-200, both
  above the default 100 entries, so every lookup in the next pass
  missed. A miss is a Janino compile, a fresh class load, and then the
  JIT compiling that class's hot methods again. 1000 entries hold one
  pass of both with headroom, so a long-lived session compiles each
  class once. Measured on a 4-CPU machine: 164 -> 4-18 compiles per
  steady submit pass, JIT-thread CPU 7.2 -> 5.1 s per pass. The conf
  is static: the cache is JVM-wide and reads it once, at the first
  compile.
- Arrow enabled: every Python-side operator in this engine is a
  Pandas UDF / ``mapInPandas`` (never row-at-a-time Python).
- Session timezone pinned to UTC so timestamp semantics match the
  reference's naive-UTC filename timestamps (``datasets.py:26-28``)
  and the DuckDB oracle.
- Broadcast threshold raised: all dimension tables in this engine
  (regions, static grids, per-variable constants) are tiny by design
  and must never shuffle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "weather4cast-bigdata-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session used by tests, bench, and the driver."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's coalesce floor is byte-driven (1 MB default); CPU-heavy
        # post-shuffle stages (bucket-local pair joins over hashed
        # shingles) collapse to 1 task on small-but-expensive
        # exchanges. A 64k floor keeps them on all cores; irrelevant at
        # real scale where partitions are MBs.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # The driver's parquet lake stores TIMESTAMP(NANOS) (pandas ns
        # resolution), which Spark rejects natively; read as long and
        # convert in sources.catalog.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Long-lived-session hygiene: shuffle files and broadcast
        # blocks are only reclaimed when the ContextCleaner sees the
        # owning objects garbage-collected on the DRIVER, and with a
        # many-GB driver heap a full GC may not happen for hours —
        # measured locally as queries getting ~2x slower over a
        # 15-query session (accumulated shuffle spill files competing
        # for page cache/disk). The default periodic-GC interval is
        # 30min; 2min bounds the pile-up without measurable overhead
        # (the GC itself is <1s against a mostly-dead heap). On a real
        # cluster the same setting caps per-executor shuffle-dir
        # growth for multi-day streaming/interactive sessions.
        .config("spark.cleaner.periodicGC.interval", "2min")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
