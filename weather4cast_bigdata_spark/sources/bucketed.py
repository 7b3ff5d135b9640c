"""Bucketed tables: shuffle-free repeated joins (SCALING.md §2).

``bucketBy(n, keys)`` at write time hash-partitions rows into a fixed
set of files per key; two tables bucketed on the join key with the
same bucket count sort-merge-join with NO exchange on either side —
the co-location is baked into the layout. At 100 TB this is the knob
for the joins that repeat every run (frames ⋈ static grids on
``(region, ts)``, lineitem ⋈ orders on the order key): pay one
shuffle at ingest, never again.

A plain ``spark.table(l).join(spark.table(r), on)`` of two such
catalog tables then plans with no Exchange on either side
(asserted in tests/test_scale_infra.py).

Spark requires ``saveAsTable`` for bucketed writes (the bucket spec
lives in the catalog, not the files); ``option("path", ...)`` keeps
the data in caller-controlled storage with the session catalog only
holding metadata.

Reference analog: none (single process, no shuffles) — this is scale
infrastructure; the directory-partitioned lake layout it complements
mirrors ``datasets.py:256-269``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_keys: list[str],
    n_buckets: int = 32,
    sort_keys: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a bucketed (and optionally per-bucket sorted)
    parquet table. Sorting by the join key at write time lets the
    sort-merge join skip its Sort too — scan, zip, done."""
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, *bucket_keys)
    if sort_keys:
        w = w.sortBy(*sort_keys)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)
