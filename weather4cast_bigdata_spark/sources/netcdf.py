"""NetCDF frame-lake ETL: binaryFile scan + Arrow-batched decode.

The reference decodes NetCDF per (file, variable) per epoch behind a
dict cache (``datasets.py:51-57, 75-110``); the Spark-native shape is
decode ONCE into partitioned parquet, after which every read is
columnar with pruning. The scan is ``binaryFile`` (whole-file rows —
the in-memory ``netCDF4.Dataset(memory=...)`` pattern,
``datasets.py:56-57``) and the decode is a ``mapInPandas`` UDF so
bytes never cross the JVM↔Python boundary row-at-a-time.

``netCDF4`` is not installed in this container, so the real decoder
is import-gated; a deterministic fake decoder (seeded by file path)
keeps the full pipeline — path parsing, Arrow batching, long-layout
explode, fill handling, parquet sink — real and testable.
"""

from __future__ import annotations

import hashlib
import os
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from weather4cast_bigdata_spark.functions.strings import (
    TS_FORMAT,
    TS_PATTERN,
    parse_filename_ts,
)

try:  # pragma: no cover - not installed in the build container
    import netCDF4  # type: ignore

    HAVE_NETCDF4 = True
except ImportError:
    netCDF4 = None
    HAVE_NETCDF4 = False

# comp_dir/region/subset/dayofyear/product/file (datasets.py:260-268).
FRAME_PATH_RE = r".*/([^/]+)/([^/]+)/(\d{7})/([^/]+)/([^/]+\.nc)$"

# The reference's default product → variables map (datasets.py:182-196
# minus the "static" pseudo-product, which is the nav/elevation dim
# handled by scan_static_*). The ingest CLI uses this unless
# --products overrides it.
DEFAULT_PRODUCT_VARS: dict[str, list[str]] = {
    "CTTH": ["temperature"],
    "CRR": ["crr_intensity"],
    "ASII": ["asii_turb_trop_prob"],
    "CMA": ["cma"],
}

DECODED_SCHEMA = StructType(
    [
        StructField("region", StringType()),
        StructField("subset", StringType()),
        StructField("product", StringType()),
        StructField("variable", StringType()),
        StructField("ts", TimestampType()),
        StructField("y", IntegerType()),
        StructField("x", IntegerType()),
        StructField("value", FloatType()),
    ]
)


def _list_files(spark: SparkSession, path_glob: str, path_re: str) -> DataFrame:
    """``binaryFile`` rows for ``path_glob``, listed by directory.

    The glob is split at its last ``/``: the directory part is loaded
    and the file-name part becomes ``pathGlobFilter``. Spark then lists
    the (few) matched directories on the driver instead of handing the
    planner one root per file; above
    ``parallelPartitionDiscovery.threshold`` (32) roots it runs a Spark
    job just to list them, one task per file. Listing a directory is
    recursive and the glob's directory part can also match files, so
    rows whose path does not match ``path_re`` are dropped here,
    JVM-side, before any decoder sees them.
    """
    root, _, name_glob = path_glob.rpartition("/")
    raw = spark.read.format("binaryFile").option("pathGlobFilter", name_glob).load(root)
    return raw.where(F.col("path").rlike(path_re))


def scan_frame_files(spark: SparkSession, path_glob: str) -> DataFrame:
    """binaryFile scan + partition-path parse → (path metadata, bytes).

    Reference: directory walk + filename timestamp parse
    (datasets.py:26-36, 229-237). ``path_glob`` is a file glob such as
    ``lake/w4c/*/*/*/*/*.nc``; it is listed by directory (one listing
    per day/product directory, see ``_list_files``). Files that do not
    follow ``region/subset/day/product/<name>.nc`` or whose name carries
    no parseable ``%Y%m%dT%H%M%SZ`` stamp (a ``README.nc``, a file at
    product-directory depth, anything inside a sub-directory of a
    product directory) are skipped. The regex and stamp filters run
    JVM-side; only files surviving them and any pushed filters reach
    the Python decoder.
    """
    raw = _list_files(spark, path_glob, FRAME_PATH_RE)
    name = F.regexp_extract("path", FRAME_PATH_RE, 5)
    return raw.where(
        F.try_to_timestamp(F.regexp_extract(name, TS_PATTERN, 1), F.lit(TS_FORMAT)).isNotNull()
    ).select(
        F.col("path"),
        F.regexp_extract("path", FRAME_PATH_RE, 1).alias("region"),
        F.regexp_extract("path", FRAME_PATH_RE, 2).alias("subset"),
        F.regexp_extract("path", FRAME_PATH_RE, 4).alias("product"),
        name.alias("filename"),
        parse_filename_ts(name).alias("ts"),
        F.col("content"),
    )


def _fake_decode(path: str, variable: str, h: int, w: int) -> np.ndarray:
    """Deterministic stand-in decoder, SQL-RESTATABLE: cell (y, x) of
    (file, variable) is ``md5(basename|variable|y|x) % 1000`` as
    float32 — integers < 2^10, exactly representable, so a DuckDB
    oracle recomputes every pixel bit-identically (this is what lets
    the fixture-lake scan queries carry a driver hash row instead of
    a rows-only check). Keyed on the file BASENAME (unique across the
    lake layout) so the values are independent of the temp-dir the
    lake landed in. Clearly marked — replace with the netCDF4 branch
    in a real deployment."""
    base = os.path.basename(path)
    flat = np.fromiter(
        (
            int(
                hashlib.md5(f"{base}|{variable}|{y}|{x}".encode()).hexdigest()[:8],
                16,
            )
            % 1000
            for y in range(h)
            for x in range(w)
        ),
        dtype=np.int64,
        count=h * w,
    )
    return flat.astype(np.float32).reshape(h, w)


def _real_decode(content: bytes, variable: str) -> np.ndarray:  # pragma: no cover
    """In-memory NetCDF decode with manual scaling semantics.

    Reference: datasets.py:91-97 — ``set_auto_scale(False)``,
    ``valid_range``/``_FillValue`` handling; fill → NaN here (decoded
    to NULL downstream, Spark null semantics replace masks).
    """
    ds = netCDF4.Dataset("inmemory.nc", mode="r", memory=content)
    try:
        var = ds[variable]
        var.set_auto_scale(False)
        data = np.asarray(var[:], dtype=np.float32)
        fill = getattr(var, "_FillValue", None)
        if fill is not None:
            data = np.where(data == np.float32(fill), np.nan, data)
        return np.squeeze(data)
    finally:
        ds.close()


def decode_frames(
    scanned: DataFrame,
    product_vars: dict[str, list[str]],
    grid: tuple[int, int] = (8, 8),
) -> DataFrame:
    """Arrow-batched decode → long layout (region, …, y, x, value).

    One input row (file) explodes to H·W·n_vars output rows inside the
    Python worker — the shuffle-free part of the ETL. Partition count
    follows the binaryFile scan, so decode parallelism = file count
    granularity; repartition upstream for few-huge-file lakes.
    """
    h, w = grid

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                for variable in product_vars.get(row.product, []):
                    if HAVE_NETCDF4:  # pragma: no cover
                        data = _real_decode(bytes(row.content), variable)
                    else:
                        data = _fake_decode(row.path, variable, h, w)
                    if data.shape != (h, w):
                        # fail fast with coordinates intact — a
                        # mismatched decode must never silently
                        # scatter values to wrong (y, x) labels
                        raise ValueError(
                            f"decoded {row.path}:{variable} has shape "
                            f"{data.shape}, expected grid {(h, w)}"
                        )
                    out.append(
                        pd.DataFrame(
                            {
                                "region": row.region,
                                "subset": row.subset,
                                "product": row.product,
                                "variable": variable,
                                "ts": row.ts,
                                "y": yy.ravel().astype(np.int32),
                                "x": xx.ravel().astype(np.int32),
                                "value": data.ravel(),
                            }
                        )
                    )
            yield pd.concat(out, ignore_index=True) if out else pd.DataFrame(
                columns=[f.name for f in DECODED_SCHEMA]
            )

    return scanned.mapInPandas(decode, schema=DECODED_SCHEMA)


def etl_to_parquet(decoded: DataFrame, out_path: str) -> None:
    """Decode-once sink: hive-partitioned by the reference's directory
    axes, zstd-compressed. Downstream reads get partition pruning on
    (region, subset, product) and column pruning for free."""
    day = F.date_format("ts", "yyyyDDD").alias("day")
    (
        decoded.withColumn("day", day)
        # one writer task per hive directory — without this every
        # decode partition opens a file in every directory
        .repartition("region", "subset", "day", "product")
        .write.partitionBy("region", "subset", "day", "product")
        .option("compression", "zstd")
        .mode("overwrite")
        .parquet(out_path)
    )


# ---------------------------------------------------------------------------
# Static grids: navigation NetCDF (lat/lon) and raw float32 binary
# (elevation). Both are tiny per-region dim tables meant to be decoded
# once, cached, and broadcast (datasets.py:129-162).
# ---------------------------------------------------------------------------

NAV_PATH_RE = r".*/nav/([^/]+)_latlon\.nc$"
ELEV_PATH_RE = r".*/nav/([^/]+)_elevation\.dat$"

STATIC_NAV_SCHEMA = StructType(
    [
        StructField("region", StringType()),
        StructField("y", IntegerType()),
        StructField("x", IntegerType()),
        StructField("latitude", FloatType()),
        StructField("longitude", FloatType()),
    ]
)

STATIC_RAW_SCHEMA = StructType(
    [
        StructField("region", StringType()),
        StructField("y", IntegerType()),
        StructField("x", IntegerType()),
        StructField("elevation", FloatType()),
    ]
)


def scan_static_navigation(
    spark: SparkSession, path_glob: str, grid: tuple[int, int] = (8, 8)
) -> DataFrame:
    """Navigation-NetCDF scan → per-pixel (lat, lon) dim table.

    Reference: datasets.py:137-141. Import-gated real decode; the
    fake branch emits deterministic lat/lon in the reference's
    European ranges so the affine-normalize step downstream is
    exercised with realistic values.
    """
    h, w = grid
    raw = _list_files(spark, path_glob, NAV_PATH_RE).select(
        F.col("path"),
        F.regexp_extract("path", NAV_PATH_RE, 1).alias("region"),
        F.col("content"),
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                if HAVE_NETCDF4:  # pragma: no cover
                    lat = _real_decode(bytes(row.content), "latitude")
                    lon = _real_decode(bytes(row.content), "longitude")
                else:
                    # dyadic scales (÷32, ÷8) keep every value exactly
                    # representable → the oracle restates them bit-exactly
                    lat = 23.0 + _fake_decode(row.path, "latitude", h, w) / 32.0
                    lon = -76.0 + _fake_decode(row.path, "longitude", h, w) / 8.0
                out.append(
                    pd.DataFrame(
                        {
                            "region": row.region,
                            "y": yy.ravel().astype(np.int32),
                            "x": xx.ravel().astype(np.int32),
                            "latitude": lat.ravel(),
                            "longitude": lon.ravel(),
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True) if out else pd.DataFrame(
                columns=[f.name for f in STATIC_NAV_SCHEMA]
            )

    return raw.mapInPandas(decode, schema=STATIC_NAV_SCHEMA)


def scan_static_raw(
    spark: SparkSession, path_glob: str, grid: tuple[int, int] = (8, 8)
) -> DataFrame:
    """Raw float32 binary grid scan (np.fromfile analog).

    Reference: datasets.py:145-147. This decode path is fully REAL —
    ``np.frombuffer`` over the binaryFile content, no codec library
    involved.
    """
    h, w = grid
    raw = _list_files(spark, path_glob, ELEV_PATH_RE).select(
        F.regexp_extract("path", ELEV_PATH_RE, 1).alias("region"),
        F.col("content"),
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                vals = np.frombuffer(bytes(row.content), dtype=np.float32)
                out.append(
                    pd.DataFrame(
                        {
                            "region": row.region,
                            "y": yy.ravel().astype(np.int32),
                            "x": xx.ravel().astype(np.int32),
                            "elevation": vals.reshape(h, w).ravel(),
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True) if out else pd.DataFrame(
                columns=[f.name for f in STATIC_RAW_SCHEMA]
            )

    return raw.mapInPandas(decode, schema=STATIC_RAW_SCHEMA)
