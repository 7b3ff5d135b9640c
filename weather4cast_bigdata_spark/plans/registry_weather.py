"""Registry entries for the weather-lake ETL / inference / solver
surface (SURVEY.md §2.1, §2.8) plus extension queries that need
fixture inputs the star schema lacks.

Oracle-checked entries run on the driver's tables like the rest of
the registry; rows-only entries (no SQL-expressible oracle,
SURVEY.md §2 "⚠rows") run on a deterministic on-disk fixture lake
built once per process under the system temp dir — the binaryFile →
mapInPandas decode path is exercised end-to-end, not simulated.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

import numpy as np
from pyspark.sql import functions as F

from weather4cast_bigdata_spark.functions import strings
from weather4cast_bigdata_spark.operators import aggregates, inference, multimodal, similarity, windows
from weather4cast_bigdata_spark.plans import registry_oracles, weather
from weather4cast_bigdata_spark.plans.registry import (
    SLOT_SQL,
    _COSINE_SQL,
    _t,
    qdef,
    r6,
    scratch_dir,
)
from weather4cast_bigdata_spark.plans.registry import _H32_SQL as _DOC_H32_SQL
from weather4cast_bigdata_spark.plans.registry import _SHINGLES_SQL as _DOC_SHINGLES_SQL
from weather4cast_bigdata_spark.sources import netcdf, weather_fixtures

# =====================================================================
# Fixture lake (deterministic, built once per process)
# =====================================================================

_LAKE_GRID = (8, 8)
_LAKE_PRODUCTS = {"CTTH": ["temperature"], "CRR": ["crr_intensity"]}


def _fixture_lake() -> str:
    """Materialize a tiny deterministic frame lake + navigation dir:
    comp_dir/region/subset/dayofyear/product/file layout
    (datasets.py:256-269) plus per-region nav files (lat/lon "NetCDF"
    and REAL float32 elevation binary, datasets.py:129-162)."""
    root = os.path.join(tempfile.gettempdir(), "w4c_fixture_lake_v2")
    marker = os.path.join(root, "_SUCCESS")
    if os.path.exists(marker):
        return root
    h, w = _LAKE_GRID
    for region in ("R1", "R2"):
        for product in _LAKE_PRODUCTS:
            d = os.path.join(root, "w4c", region, "training", "2019204", product)
            os.makedirs(d, exist_ok=True)
            for hhmm in ("060000", "061500", "063000", "064500"):
                name = f"S_NWC_{product}_MSG4_{region}-VISIR_20190723T{hhmm}Z.nc"
                content = hashlib.sha256(f"{region}/{product}/{name}".encode()).digest() * 8
                with open(os.path.join(d, name), "wb") as f:
                    f.write(content)
        nav = os.path.join(root, "nav")
        os.makedirs(nav, exist_ok=True)
        with open(os.path.join(nav, f"{region}_latlon.nc"), "wb") as f:
            f.write(hashlib.sha256(f"nav/{region}".encode()).digest() * 8)
        # SQL-restatable float32 payload: cell i of {region}_elevation.dat
        # is md5(name|i) % 3200 - 200 — integer-valued (negative
        # elevations kept for the clamp semantics), so the REAL
        # np.frombuffer decode path can carry a DuckDB-hash oracle.
        ename = f"{region}_elevation.dat"
        elev = np.array(
            [
                int(hashlib.md5(f"{ename}|{i}".encode()).hexdigest()[:8], 16) % 3200
                - 200
                for i in range(h * w)
            ],
            dtype=np.float32,
        )
        with open(os.path.join(nav, ename), "wb") as f:
            f.write(elev.tobytes())
    with open(marker, "w") as f:
        f.write("ok")
    return root


def _decoded_fixture_frames(spark):
    lake = _fixture_lake()
    scanned = netcdf.scan_frame_files(spark, f"{lake}/w4c/*/*/*/*/*.nc")
    return netcdf.decode_frames(scanned, _LAKE_PRODUCTS, grid=_LAKE_GRID)


# =====================================================================
# §2.1 scans / sinks (rows-only: binary decode is not SQL)
# =====================================================================


# Frame-lake decode restated in SQL: the fake decoder's per-cell
# md5 arithmetic over the deterministic fixture layout (2 regions ×
# 2 products × 4 times × 8×8 cells). Shared by scan_netcdf_decode
# and cache_decoded (same output, the latter adds the persist).
_FRAME_DECODE_ORACLE = """
    WITH regions AS (SELECT unnest(['R1', 'R2']) AS region),
    prods AS (SELECT * FROM (VALUES ('CTTH', 'temperature'),
                                    ('CRR', 'crr_intensity')) p(product, variable)),
    times AS (SELECT unnest(['060000', '061500', '063000', '064500']) AS hhmm),
    cells AS (SELECT y, x FROM (SELECT unnest(range(0, 8)) AS y),
                               (SELECT unnest(range(0, 8)) AS x)),
    base AS (
        SELECT region, product, variable,
               'S_NWC_' || product || '_MSG4_' || region
                 || '-VISIR_20190723T' || hhmm || 'Z.nc' AS fname,
               strptime('20190723T' || hhmm, '%Y%m%dT%H%M%S') AS ts,
               y, x
        FROM regions, prods, times, cells
    )
    SELECT region, 'training' AS subset, product, variable, ts,
           CAST(y AS INT) AS y, CAST(x AS INT) AS x,
           CAST(('0x' || substring(md5(fname || '|' || variable
                                        || '|' || y || '|' || x), 1, 8))::BIGINT
                % 1000 AS REAL) AS value
    FROM base
"""


@qdef("scan_netcdf_decode", oracle=_FRAME_DECODE_ORACLE)
def q_scan_netcdf_decode(spark, sf_dir):
    """binaryFile scan of the frame lake + Arrow-batched NetCDF decode
    to the long layout (datasets.py:55-57,75-110). Import-gated real
    decoder; the container's deterministic fake decoder
    (sources/netcdf) emits md5-derived integer float32s, so the WHOLE
    path — binaryFile scan, path parse, Arrow batching, long-layout
    explode — is driver-hash-checked against a SQL restatement of the
    per-cell arithmetic."""
    return _decoded_fixture_frames(spark)


@qdef(
    "scan_static_netcdf",
    oracle="""
    WITH regions AS (SELECT unnest(['R1', 'R2']) AS region),
    cells AS (SELECT y, x FROM (SELECT unnest(range(0, 8)) AS y),
                               (SELECT unnest(range(0, 8)) AS x))
    SELECT region, CAST(y AS INT) AS y, CAST(x AS INT) AS x,
           CAST(23.0 + (('0x' || substring(md5(region || '_latlon.nc|latitude|'
                                               || y || '|' || x), 1, 8))::BIGINT
                        % 1000) / 32.0 AS REAL) AS latitude,
           CAST(-76.0 + (('0x' || substring(md5(region || '_latlon.nc|longitude|'
                                                || y || '|' || x), 1, 8))::BIGINT
                         % 1000) / 8.0 AS REAL) AS longitude
    FROM regions, cells
    """,
)
def q_scan_static_netcdf(spark, sf_dir):
    """Navigation-NetCDF lat/lon grid decode (datasets.py:137-141) —
    small dim table meant for cache + broadcast. Fake-decoder values
    are dyadic-exact (md5 cell value / 32 or / 8 plus an offset), so
    the float32 lat/lon grid hash-matches the SQL restatement."""
    lake = _fixture_lake()
    return netcdf.scan_static_navigation(
        spark, f"{lake}/nav/*_latlon.nc", grid=_LAKE_GRID
    )


@qdef(
    "scan_static_raw",
    oracle="""
    WITH regions AS (SELECT unnest(['R1', 'R2']) AS region),
    cells AS (SELECT y, x FROM (SELECT unnest(range(0, 8)) AS y),
                               (SELECT unnest(range(0, 8)) AS x))
    SELECT region, CAST(y AS INT) AS y, CAST(x AS INT) AS x,
           CAST(('0x' || substring(md5(region || '_elevation.dat|'
                                       || (y * 8 + x)), 1, 8))::BIGINT
                % 3200 - 200 AS REAL) AS elevation
    FROM regions, cells
    """,
)
def q_scan_static_raw(spark, sf_dir):
    """Raw float32 elevation binary decode (np.fromfile analog,
    datasets.py:145-147). Decode is fully REAL — np.frombuffer over
    binaryFile content — and the fixture payload is md5-derived
    integers, so the byte-level decode round-trip carries a driver
    hash row (the oracle recomputes each cell from the writer's
    formula)."""
    lake = _fixture_lake()
    return netcdf.scan_static_raw(spark, f"{lake}/nav/*_elevation.dat", grid=_LAKE_GRID)


@qdef(
    "sink_quantized_partitioned",
    oracle=f"""
    WITH decoded AS (SELECT * FROM ({_FRAME_DECODE_ORACLE})),
    meta(variable, valid_lo, valid_hi, quant_hi) AS (
        VALUES ('temperature', 0.0, 22000.0, 65535),
               ('crr_intensity', 0.0, 500.0, 65535)),
    n AS (
        SELECT d.region, d.variable, d.ts, d.y, d.x,
               least((CAST(d.value AS DOUBLE) - m.valid_lo)
                     / (m.valid_hi - m.valid_lo), 1.0) AS norm,
               m.quant_hi
        FROM decoded d JOIN meta m USING (variable)
    )
    SELECT region, variable, ts, y, x,
           CAST(floor(norm * quant_hi + 0.5) AS INT) AS qv,
           CAST(strftime(CASE WHEN hour(ts) = 0 AND minute(ts) = 0
                              THEN ts - INTERVAL 1 DAY ELSE ts END,
                         '%Y%j') AS INT) AS day
    FROM n
    """,
)
def q_sink_quantized_partitioned(spark, sf_dir):
    """Quantize + per-(region, day) partitioned compressed sink, READ
    BACK and driver-hash-checked (datasets.py:379-394,444-459;
    HDF5/gzip-9 → parquet/zstd, uint16 stored as int32 per SURVEY.md
    §4). Sources the md5-derived decoded frame lake (the
    ``scan_netcdf_decode`` fixture) so the whole chain — decode,
    normalize (clamped into the decode contract's [0,1]), impute,
    half-up quantize, day-boundary stamp, partitioned write, parquet
    read-back with partition-column recovery — is restated in SQL:
    the oracle proves the SINK round-trip, not just the arithmetic
    (the half-even quirk is pinned separately by
    ``quantize_halfeven_parity``)."""
    frames = _decoded_fixture_frames(spark)
    fx = weather_fixtures.load_fixtures(spark)
    dec = weather.impute(weather.decode_normalize(frames, fx["variable_meta"]))
    dec = dec.withColumn("norm", F.least(F.col("norm"), F.lit(1.0)))
    q = weather.quantize_for_submission(dec, fx["variable_meta"])
    # Fresh dir per call: overwriting a shared path would invalidate
    # the file listing of DataFrames returned by earlier calls.
    out = scratch_dir("w4c_submission_sink")
    weather.write_submission(q.select("region", "day", "variable", "ts", "y", "x", "qv"), out)
    return spark.read.parquet(out)


# Shared by the batch h5 export and its streaming twin: the per-file
# manifest aggregates restated in SQL from the decode oracle.
_SUBMISSION_MANIFEST_ORACLE = f"""
    WITH decoded AS (SELECT * FROM ({_FRAME_DECODE_ORACLE})),
    meta(variable, valid_lo, valid_hi, quant_hi) AS (
        VALUES ('temperature', 0.0, 22000.0, 65535),
               ('crr_intensity', 0.0, 500.0, 65535)),
    n AS (
        SELECT d.region, d.variable, d.ts, d.y, d.x,
               least((CAST(d.value AS DOUBLE) - m.valid_lo)
                     / (m.valid_hi - m.valid_lo), 1.0) AS norm,
               m.quant_hi
        FROM decoded d JOIN meta m USING (variable)
    ),
    q AS (
        SELECT region, ts,
               CAST(floor(norm * quant_hi + 0.5) AS INT) AS qv,
               CAST(strftime(CASE WHEN hour(ts) = 0 AND minute(ts) = 0
                                  THEN ts - INTERVAL 1 DAY ELSE ts END,
                             '%Y%j') AS INT) AS day
        FROM n
    )
    SELECT region, day,
           CAST(count(DISTINCT ts) AS INT) AS n_times,
           count(*) AS n_cells,
           CAST(sum(CAST(qv AS BIGINT)) AS BIGINT) AS qv_sum
    FROM q
    GROUP BY region, day
    """


@qdef("sink_submission_h5", oracle=_SUBMISSION_MANIFEST_ORACLE)
def q_sink_submission_h5(spark, sf_dir):
    """The competition-scorer interchange (datasets.py:444-459): the
    quantized frames exported as one (region, day) file of
    (T, C, H, W) uint16 — HDF5 gzip-9 where h5py is installed, an
    identical-array .npy fallback where not (sources/hdf5.py; byte
    layout pinned by the read-back parity test). One writer TASK per
    file via applyInPandas — no driver collect, file parallelism =
    group count. The returned manifest's per-file aggregates
    (n_times, n_cells, qv_sum) are restated in SQL from the decode
    oracle, so the export path carries a full driver hash row."""
    from weather4cast_bigdata_spark.sources import hdf5

    frames = _decoded_fixture_frames(spark)
    fx = weather_fixtures.load_fixtures(spark)
    dec = weather.impute(weather.decode_normalize(frames, fx["variable_meta"]))
    dec = dec.withColumn("norm", F.least(F.col("norm"), F.lit(1.0)))
    q = weather.quantize_for_submission(dec, fx["variable_meta"])
    out = scratch_dir("w4c_submission_h5")
    manifest = hdf5.write_submission_h5(
        q.select("region", "day", "variable", "ts", "y", "x", "qv"),
        out,
        variables=["temperature", "crr_intensity"],
        grid=_LAKE_GRID,
    )
    return manifest.select("region", "day", "n_times", "n_cells", "qv_sum")


_CACHE_DECODED_PREV: list = []


@qdef("cache_decoded", oracle=_FRAME_DECODE_ORACLE)
def q_cache_decoded(spark, sf_dir):
    """Decode-once memoization (datasets.py:51-53,83-100) as
    persist(): the second traversal hits the InMemoryRelation, not the
    Python decoder — asserted in-plan — and the cached rows
    hash-match the same SQL restatement as ``scan_netcdf_decode``
    (proving the cache serves exactly what the decoder produced)."""
    if _CACHE_DECODED_PREV:
        try:
            _CACHE_DECODED_PREV.pop().unpersist()
        except Exception:
            pass
    dec = _decoded_fixture_frames(spark).persist()
    _CACHE_DECODED_PREV.append(dec)
    dec.count()  # warm the cache; plan below reads the materialized form
    plan = dec._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan, (
        "second traversal did not read the materialized cache"
    )
    return dec


# =====================================================================
# §2.7 / §2.8 remaining IDs
# =====================================================================


@qdef(
    "str_parse_ts",
    oracle="""
    SELECT event_id,
           strptime(strftime(ts, '%Y%m%dT%H%M%S'), '%Y%m%dT%H%M%S') AS parsed_ts
    FROM events
    """,
)
def q_str_parse_ts(spark, sf_dir):
    """Filename-stamp → timestamp parse (datasets.py:26-28):
    regexp_extract + to_timestamp on the composed frame filename."""
    events = _t(spark, sf_dir, "events")
    fname = strings.format_ts_filename(F.col("ts"), "S_NWC_ASII_MSG4_")
    return events.select(
        "event_id", strings.parse_filename_ts(fname).alias("parsed_ts")
    )


@qdef(
    "array_transpose",
    oracle="""
    SELECT vec_id, ti, tj, embedding[tj*4 + ti + 1]::DOUBLE AS val
    FROM embeddings,
         (SELECT unnest(range(0, 4)) AS ti) a,
         (SELECT unnest(range(0, 2)) AS tj) b
    """,
)
def q_array_transpose(spark, sf_dir):
    """(T,H,W,V)→(T,V,H,W) axis swap (datasets.py:445) as a pure
    higher-order-function transpose of a nested array, flattened back
    to indexed rows for comparison."""
    emb = _t(spark, sf_dir, "embeddings")
    m = F.array(
        F.slice(F.col("embedding"), 1, 4), F.slice(F.col("embedding"), 5, 4)
    )
    t = F.transform(
        F.sequence(F.lit(0), F.lit(3)),
        lambda j: F.transform(
            F.sequence(F.lit(0), F.lit(1)),
            lambda i: F.element_at(F.element_at(m, i + 1), j + 1),
        ),
    )
    rows = emb.select("vec_id", F.posexplode(t).alias("ti", "trow"))
    return rows.select(
        "vec_id", "ti", F.posexplode("trow").alias("tj", "valf")
    ).select("vec_id", "ti", "tj", F.col("valf").cast("double").alias("val"))


@qdef(
    "udf_vectorized_kernel",
    oracle="""
    WITH regions AS (SELECT unnest(['R1', 'R2']) AS region),
    prods AS (SELECT * FROM (VALUES ('CTTH', 'temperature'),
                                    ('CRR', 'crr_intensity')) p(product, variable)),
    times AS (SELECT unnest(['060000', '061500', '063000', '064500']) AS hhmm),
    cells AS (SELECT y, x FROM (SELECT unnest(range(0, 8)) AS y),
                               (SELECT unnest(range(0, 8)) AS x)),
    px AS (
        SELECT region, product, variable,
               strptime('20190723T' || hhmm, '%Y%m%dT%H%M%S') AS ts,
               ('0x' || substring(md5('S_NWC_' || product || '_MSG4_' || region
                                      || '-VISIR_20190723T' || hhmm || 'Z.nc'
                                      || '|' || variable
                                      || '|' || y || '|' || x), 1, 8))::BIGINT
                 % 1000 AS v
        FROM regions, prods, times, cells
    )
    SELECT region, product, variable, ts,
           8 AS h, 8 AS w,
           CAST(count(*) AS INT) AS n_px,
           CAST(sum(v) AS DOUBLE) AS checksum
    FROM px GROUP BY region, product, variable, ts
    """,
)
def q_udf_vectorized_kernel(spark, sf_dir):
    """Batch-tensor scatter assembly (the numba kernel,
    datasets.py:350-356): applyInPandas dense H×W scatter per
    (region, product, variable, ts) group. With the md5-derived
    integer decode values the per-tile float32 scatter checksum is
    exact (64 ints < 1000 sum < 2^24), so the whole
    binaryFile→decode→shuffle→Arrow-scatter chain hash-matches the
    SQL restatement."""
    dec = _decoded_fixture_frames(spark)
    return inference.assemble_frame_tensors(
        dec, keys=["region", "product", "variable", "ts"], val_col="value", grid=_LAKE_GRID
    )


_INFER_W = (0.5, -0.25, 0.125, 1.0)


@qdef(
    "udf_batch_inference",
    oracle="""
    SELECT vec_id,
           round(0.5*embedding[1]::DOUBLE - 0.25*embedding[2]::DOUBLE
                 + 0.125*embedding[3]::DOUBLE + 1.0*embedding[4]::DOUBLE
                 + 1e-9, 6) AS pred
    FROM embeddings
    """,
)
def q_udf_batch_inference(spark, sf_dir):
    """Arrow-batched model inference (model.predict analog,
    datasets.py:440): mapInPandas with a per-worker model factory.
    The deterministic linear stub makes the whole UDF path
    SQL-checkable — the oracle recomputes the dot product."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        *[
            F.col("embedding")[i].cast("double").alias(f"f{i}")
            for i in range(len(_INFER_W))
        ],
    )
    out = inference.predict_frames(
        emb,
        [f"f{i}" for i in range(len(_INFER_W))],
        lambda: inference.linear_stub_model(np.array(_INFER_W)),
    )
    return out.select("vec_id", r6(F.col("pred")).alias("pred"))


@qdef(
    "crr_combo_switch",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN max(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY l_orderkey) = 1
                THEN l_extendedprice ELSE l_quantity END AS pred
    FROM lineitem
    """,
)
def q_crr_combo_switch(spark, sf_dir):
    """Two-model regime switch (models.py:249-279): sample-level ANY
    over the rain channel picks wet- vs dry-model output per group —
    one window shuffle, then pure projection."""
    li = _t(spark, sf_dir, "lineitem")
    out = inference.crr_combo_switch(
        li,
        ["l_orderkey"],
        wet_col="l_extendedprice",
        dry_col="l_quantity",
        rain_col="l_discount",
        threshold=0.05,
    )
    return out.select("l_orderkey", "l_linenumber", "pred")


@qdef("solve_ridge")
def q_solve_ridge(spark, sf_dir):
    """Distributed Gram aggregation → driver-side ridge solve
    (ensemble.py:18-46): k×k normal equations from one groupBy().agg
    pass, numpy solve on the collected p×p matrix."""
    fx = weather_fixtures.load_fixtures(spark)
    w = weather.fit_ensemble_weights_plan(
        fx["predictions"], sum1=False,
        model_ids=range(weather_fixtures.ENSEMBLE_K),
    )
    return spark.createDataFrame(
        [(int(i), round(float(x), 4)) for i, x in enumerate(w)],
        ["model_id", "weight"],
    )


@qdef("solve_ridge_sum1")
def q_solve_ridge_sum1(spark, sf_dir):
    """Ridge with the Σw=1 Lagrange constraint (bordered system,
    ensemble.py:49-57)."""
    fx = weather_fixtures.load_fixtures(spark)
    w = weather.fit_ensemble_weights_plan(
        fx["predictions"], sum1=True,
        model_ids=range(weather_fixtures.ENSEMBLE_K),
    )
    return spark.createDataFrame(
        [(int(i), round(float(x), 4)) for i, x in enumerate(w)],
        ["model_id", "weight"],
    )


# =====================================================================
# Extensions: embedding near-dup, multimodal, grouping sets
# =====================================================================


@qdef(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH planes AS (
        {registry_oracles._HP_PLANES_SQL}
    ),
    e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    dots1 AS (
        SELECT e.vec_id, pl.p,
               sum(e.v[r.i] * pl.s[r.i]) AS dot
        FROM e, planes pl, (SELECT unnest(range(1, 65)) AS i) r
        WHERE r.i <= len(e.v) AND pl.p < {registry_oracles._HP_NP250_SQL}
        GROUP BY 1, 2
    ),
    bucketed AS (
        SELECT vec_id,
               sum(CASE WHEN dot + 1e-9 >= 0 THEN 1 << p ELSE 0 END) AS hp
        FROM dots1 GROUP BY 1
    ),
    eb AS (
        SELECT e.vec_id, e.label, e.v, COALESCE(b.hp, 0) AS hp
        FROM e LEFT JOIN bucketed b ON b.vec_id = e.vec_id
    ),
    dots AS (
        -- list_dot_product: linear in bucket-local pairs (the
        -- unnest-per-dimension form cost pairs x 64 rows — the sf1
        -- sweep's worst oracle). Same r6 rounding domain.
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               list_dot_product(a.v, b.v) AS dot,
               sqrt(list_dot_product(a.v, a.v)) AS na,
               sqrt(list_dot_product(b.v, b.v)) AS nb
        FROM eb a
        JOIN eb b ON a.label = b.label AND a.hp = b.hp
                 AND a.vec_id < b.vec_id
    )
    SELECT a_id, b_id, cos_sim FROM (
        SELECT a_id, b_id, round(dot / (greatest(na, 1e-300) * greatest(nb, 1e-300)) + 1e-9, 6) AS cos_sim FROM dots
    ) WHERE cos_sim >= 0.2
    """,
)
def q_dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs over a COMPOSITE
    (label, hyperplane-LSH) bucket: labels split the corpus
    semantically, and a scale-adaptive SimHash signature
    (adaptive_n_planes, target per-label depth 250 → n_planes grows
    as ceil(log2(n/250))) subdivides each label so E[bucket depth]
    stays constant as the corpus grows — verify work scales
    ~linearly instead of quadratically (the r6 sf1 sweep's only
    super-linear cell; fixed-resolution label buckets cost 16× wall
    at 10× data). Plane matrix and width are restated bit-exactly in
    the oracle (embedded md5-parity constants + the same
    integer-comparison chain over count(*)). Threshold on the
    rounded score keeps the cut cross-engine stable; the
    single-signature recall trade is documented at
    near_dup_pairs_hyperplane."""
    emb = _t(spark, sf_dir, "embeddings")
    # footer-metadata count: no Spark job for the one scalar the
    # adaptive width needs (VERDICT r9 item 3's fixed-overhead trim)
    from weather4cast_bigdata_spark.sources.catalog import table_rows

    n = table_rows(spark, sf_dir, "embeddings")
    signs = similarity.hyperplane_signs(
        similarity.adaptive_n_planes(n, target_bucket=250), 64
    )
    bucketed = emb.select(
        "vec_id",
        "embedding",
        F.concat_ws(
            "|",
            F.col("label"),
            F.element_at(
                similarity.hyperplane_signature(F.col("embedding"), signs, n), 1
            ),
        ).alias("bkt"),
    )
    return similarity.near_dup_pairs_blas(bucketed, bucket_col="bkt", threshold=0.2)


@qdef(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id AS media_id,
           unnest(range(0, greatest(n_chars * 10, 1), 1000)) AS frame_ms
    FROM documents
    """,
)
def q_multimodal_frame_sample(spark, sf_dir):
    """Video frame-sampling plan: JVM-side sequence+explode fans one
    media row out to a row per frame timestamp BEFORE the expensive
    Python decode — decode parallelism scales with frames, not
    files. Media fixture derives from documents (text bytes as opaque
    content)."""
    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.encode("text", "utf-8").alias("content"),
        F.lit("video/mp4").alias("mime"),
        (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
    )
    return multimodal.frame_sample_plan(media, every_ms=1000).select(
        "media_id", "frame_ms"
    )


@qdef(
    "multimodal_image_features",
    oracle="""
    WITH d AS (SELECT doc_id AS media_id, md5(text) AS key FROM documents),
    px AS (
        SELECT media_id, yy.y, xx.x,
               ('0x' || substring(md5(key || '|' || yy.y || '|' || xx.x),
                                  1, 8))::BIGINT % 256 AS v
        FROM d, (SELECT unnest(range(0, 16)) AS y) yy,
                (SELECT unnest(range(0, 16)) AS x) xx
    ),
    luma AS (
        SELECT media_id,
               CAST((CAST(sum(v) AS REAL) / CAST(256 AS REAL)) / 255.0
                    AS REAL) AS mean_luma
        FROM px GROUP BY media_id
    ),
    feat AS (
        SELECT media_id, CAST(y AS INT) AS fi,
               CAST(CAST(sum(v) AS REAL) / CAST(16 AS REAL) AS REAL)
                 / CAST(255 AS REAL) AS f
        FROM px WHERE y < 8 GROUP BY media_id, y
    )
    SELECT l.media_id, 16 AS width, 16 AS height, l.mean_luma,
           f.fi, CAST(f.f AS REAL) AS feat
    FROM luma l JOIN feat f USING (media_id)
    """,
)
def q_multimodal_image_features(spark, sf_dir):
    """decode → resize → feature-extract in one Arrow stage over
    opaque binary media columns (codec import-gated). The container's
    fake decoder emits md5-derived uint8 pixels, so the mean-luma and
    row-mean features — float32 arithmetic DuckDB reproduces
    bit-exactly (FLOAT division = IEEE single rounding on both
    engines) — are driver-hash-checked; the feature array explodes to
    (fi, feat) rows per the registry's array-column convention."""
    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("content"),
        F.lit("image/png").alias("mime"),
        F.lit(64).alias("width"),
        F.lit(64).alias("height"),
        F.lit(0).alias("duration_ms"),
    )
    feats = multimodal.decode_image_features(media, resize_to=(16, 16), n_features=8)
    return feats.select(
        "media_id",
        "width",
        "height",
        "mean_luma",
        F.posexplode("features").alias("fi", "feat"),
    )


@qdef(
    "agg_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
               AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q_agg_rollup(spark, sf_dir):
    """Hierarchical subtotals via ROLLUP — zero-cost Spark extension
    over the reference's per-variable aggregates (SURVEY.md §2.4
    note); partial aggregation handles all grouping sets in one
    shuffle.  The money total SUMs over DECIMAL (lossless: 2-decimal
    values) so the grand-total row — millions of addends at scale —
    is exact and partitioning-independent, then one deterministic
    cast back to double (same policy as flagship_pricing_summary)."""
    o = _t(spark, sf_dir, "orders")
    # exact decimal sum -> one cast; no r6 (round(x, 6) diverges
    # across engines above ~9e9 — the sf1 lesson from
    # flagship_pricing_summary)
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias("total"),
    )


@qdef(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           round(sum(l_quantity) + 1e-9, 6) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_agg_cube(spark, sf_dir):
    """Full cross-dimension subtotals via CUBE (zero-cost extension,
    SURVEY.md §2.4 note)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        r6(F.sum("l_quantity")).alias("sum_qty"),
    )


@qdef(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS VARCHAR) AS DOUBLE)
               AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q_agg_grouping_sets(spark, sf_dir):
    """Arbitrary GROUPING SETS — the general form of rollup/cube
    (zero-cost Spark extension, SURVEY.md §2.4 note): per-status,
    per-priority, and grand-total subtotals in ONE shuffle via
    Expand + partial aggregation, instead of three separate
    groupBys + union.  The money total SUMs over DECIMAL (lossless:
    2-decimal values) — at sf1 the grand-total row passes 7.5e10,
    where a double sum's ULP is ~1.5e-5 and partial-aggregation
    order noise exceeds the r6 rounding grid (caught by the sf1
    sweep); exact decimal addition is order-independent, then one
    deterministic cast back to double (same policy as agg_rollup and
    flagship_pricing_summary)."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("w4c_orders_gs")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
        FROM w4c_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


@qdef("agg_approx_distinct")
def q_agg_approx_distinct(spark, sf_dir):
    """HyperLogLog++ distinct estimate per event type — the
    sketch-based form of agg_distinct_times for the 100 TB regime
    (rows-only: sketch estimates are engine-specific)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.count(F.lit(1)).alias("n"),
    )


# =====================================================================
# Extensions round 2: sessionization, as-of join, exact percentiles,
# audio features
# =====================================================================


@qdef(
    "window_sessionize",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_s,
               ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM flagged
    """,
)
def q_window_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min gap): lag + cumulative sum in
    one keyed window — the batch twin of the streaming
    session_window. Single shuffle on the session key."""
    ev = _t(spark, sf_dir, "events")
    out = windows.sessionize(
        ev, keys=["user_id"], ts_col="ts", gap_minutes=30, order_tiebreak=["event_id"]
    )
    return out.select("user_id", "event_id", "session_id")


@qdef(
    "join_asof_nearest",
    oracle="""
    WITH u AS (
        SELECT user_id, ts, event_id, value, 0 AS side FROM events
        WHERE event_type = 'click'
        UNION ALL
        SELECT user_id, ts, NULL, value, 1 FROM events
        WHERE event_type = 'purchase'
    ),
    m AS (
        SELECT user_id, event_id, side, ts,
               max(CASE WHEN side = 1 THEN ts END)
                   OVER (PARTITION BY user_id ORDER BY ts, side DESC
                         ROWS UNBOUNDED PRECEDING) AS last_purchase_ts
        FROM u
    )
    SELECT event_id, user_id, ts, last_purchase_ts FROM m WHERE side = 0
    """,
)
def q_join_asof_nearest(spark, sf_dir):
    """General backward as-of join: latest right row with ts ≤ left
    ts per key, via union + one ordered window scan — never a range
    join (which explodes O(L·R) per key before filtering). Here: each
    click gets the user's most recent prior purchase."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = windows.join_asof(
        clicks,
        purchases,
        keys=["user_id"],
        ts_col="ts",
        right_val_cols=["value"],
        right_ts_as="last_purchase_ts",
    )
    return out.select("event_id", "user_id", "ts", "last_purchase_ts")


@qdef(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5) + 1e-9, 6) AS p50,
           round(quantile_cont(l_extendedprice, 0.9) + 1e-9, 6) AS p90,
           round(quantile_cont(l_extendedprice, 0.99) + 1e-9, 6) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_percentile(spark, sf_dir):
    """Exact interpolated percentiles per group (both engines use the
    same linear-interpolation definition). The sketch-based
    percentile_approx is one 100 TB path; ``agg_percentile_histref``
    (histogram-refine distributed selection, no full-data shuffle)
    is the exact one. Measured finding (r7): at sf0.1/sf1 (0.6M/6M
    rows, 3 groups) this sort-buffer form is the FASTER of the two
    (1.2 vs 1.7 s sf0.1; 2.2 vs 2.5 s sf1) — the histref plan's
    extra stages only amortize when per-group volume outgrows a
    single task's sort (the regime where this form's
    one-task-per-group merge becomes the straggler)."""
    li = _t(spark, sf_dir, "lineitem")
    # One percentile(col, array(...)) call: a single sort buffer per
    # group serves all three quantiles (3x less agg memory/CPU than
    # three separate percentile() aggregates).
    ps = F.expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))")
    return (
        li.groupBy("l_returnflag")
        .agg(ps.alias("ps"))
        .select(
            "l_returnflag",
            r6(F.col("ps")[0]).alias("p50"),
            r6(F.col("ps")[1]).alias("p90"),
            r6(F.col("ps")[2]).alias("p99"),
        )
    )


@qdef(
    "agg_percentile_histref",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5) + 1e-9, 6) AS p50,
           round(quantile_cont(l_extendedprice, 0.9) + 1e-9, 6) AS p90,
           round(quantile_cont(l_extendedprice, 0.99) + 1e-9, 6) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_percentile_histref(spark, sf_dir):
    """EXACT percentiles via histogram-refine distributed selection
    (operators/aggregates.exact_group_percentiles) — the scale twin
    of ``agg_percentile``, same oracle: the full data is never
    shuffled (one map-combined histogram pass + a second pass
    extracting only the ~n/1024-row buckets that contain a needed
    rank), and parallelism is independent of group cardinality,
    where the sort-buffer aggregate serializes whole per-group value
    buffers through the exchange and merges ONE task per group. The
    crossover is documented at ``agg_percentile``."""
    li = _t(spark, sf_dir, "lineitem")
    res = aggregates.exact_group_percentiles(
        li, "l_returnflag", "l_extendedprice", [0.5, 0.9, 0.99]
    )
    wide = (
        res.groupBy("l_returnflag")
        .pivot("p", [0.5, 0.9, 0.99])
        .agg(F.first("value"))
    )
    return wide.select(
        "l_returnflag",
        r6(F.col("`0.5`")).alias("p50"),
        r6(F.col("`0.9`")).alias("p90"),
        r6(F.col("`0.99`")).alias("p99"),
    )


@qdef(
    "multimodal_audio_features",
    # Per-BLOCK restatement of the per-sample original (one md5 per
    # 16-sample block instead of one per sample, and the
    # zero-crossing LAG runs over n/16 block rows instead of n sample
    # rows — 1726 s -> minutes for this one row of the sf1 sweep).
    # Bit-identical by exact-integer intermediates: sum(v²) and the
    # crossing counts are integers, so per-block partial sums equal
    # the per-sample totals exactly, and the REAL cast chain on the
    # final ratios is unchanged. Within-block crossings come from the
    # parsed value list; block-boundary crossings from LAG of each
    # block's last value.
    oracle="""
    WITH d AS (
        SELECT doc_id AS media_id, md5(text) AS key,
               greatest(CAST(n_chars * 2 AS BIGINT) * 16, 1) AS n
        FROM documents
    ),
    blk AS (
        SELECT media_id, n, unnest(range(0, (n + 15) // 16)) AS j FROM d
    ),
    w AS (
        SELECT media_id, n, j,
               list_transform(
                   range(0, CAST(least(16, n - j * 16) AS INT)),
                   k -> ('0x' || substring(md5(key || '|' || j),
                                           CAST(k * 2 + 1 AS INT), 2))::BIGINT
                        % 7 - 3
               ) AS vs
        FROM blk JOIN d USING (media_id, n)
    ),
    per_block AS (
        SELECT media_id, j,
               len(vs) AS m,
               list_sum(list_transform(vs, v -> v * v)) AS s2,
               len(list_filter(range(2, len(vs) + 1),
                               k -> (vs[k] < 0) != (vs[k - 1] < 0))) AS cr,
               vs[1] AS first_v,
               vs[len(vs)] AS last_v
        FROM w
    ),
    with_prev AS (
        SELECT media_id, m, s2, cr, first_v,
               lag(last_v) OVER (PARTITION BY media_id ORDER BY j) AS prev_last
        FROM per_block
    )
    SELECT media_id,
           CAST(sum(m) AS INT) AS n_samples,
           CAST(sqrt(CAST(CAST(sum(s2) AS REAL) / CAST(sum(m) AS REAL)
                          AS REAL)) AS REAL) AS rms,
           CAST((sum(cr)
                 + sum(CASE WHEN prev_last IS NOT NULL
                             AND ((first_v < 0) != (prev_last < 0))
                            THEN 1 ELSE 0 END)) / (sum(m) - 1) AS REAL)
               AS zero_crossing_rate
    FROM with_prev GROUP BY media_id
    """,
)
def q_multimodal_audio_features(spark, sf_dir):
    """Audio decode → RMS / zero-crossing features in one Arrow stage
    (codec import-gated). The container's fake waveform is md5-block
    integers in −3..3, so RMS (float32 mean of exact integer squares,
    then sqrt — double-then-single rounding equals single-precision
    sqrt by the 2p+2 theorem) and ZCR (exact count ratio) are
    driver-hash-checked against the DuckDB restatement."""
    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        F.encode("text", "utf-8").alias("content"),
        F.lit("audio/wav").alias("mime"),
        F.lit(0).alias("width"),
        F.lit(0).alias("height"),
        (F.col("n_chars") * 2).cast("int").alias("duration_ms"),
    )
    return multimodal.decode_audio_features(media)


# =====================================================================
# Streaming forms: executed with availableNow + memory sink over an
# events-derived slot lake, so each drained result hash-matches an
# equivalent batch SQL oracle (deterministic finite-lake execution)
# =====================================================================

_STREAM_COUNTER = [0]
_STREAM_TABLES: dict[str, str] = {}


def _fresh_stream_table(spark, prefix: str) -> str:
    """New memory-sink table name; drops the previous table of the
    same prefix so repeated invocations don't accumulate materialized
    tables in driver memory over a long session."""
    prev = _STREAM_TABLES.get(prefix)
    if prev:
        try:
            spark.catalog.dropTempView(prev)
        except Exception:
            pass
    _STREAM_COUNTER[0] += 1
    name = f"{prefix}_{_STREAM_COUNTER[0]}"
    _STREAM_TABLES[prefix] = name
    return name


def _stream_events_dir(spark, sf_dir: str) -> tuple[str, object]:
    """Per-(event_type→region, 15-min slot) aggregates of the driver's
    ``events`` table, written once per sf_dir as the streaming input
    lake (the decoded-frame cadence stream shape, datasets.py:175).

    Deriving the stream from the SAME table the DuckDB oracle reads is
    what makes the streaming queries hash-verifiable: an availableNow
    run over a finite lake is deterministic, so each streaming query's
    materialized output can be compared to the equivalent batch SQL
    over ``events`` — rows, schema, AND values. Slot values are
    rounded (engine numeric policy) BEFORE the write so both engines
    window over identical doubles.
    """
    fp = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:10]
    root = os.path.join(tempfile.gettempdir(), f"w4c_stream_events_{fp}")
    per_slot = (
        windows.with_time_slot(_t(spark, sf_dir, "events"), "ts", out_col="slot")
        .groupBy(F.col("event_type").alias("region"), F.col("slot").alias("ts"))
        .agg(r6(F.avg("value")).alias("value"))
    )
    if not os.path.exists(os.path.join(root, "_SUCCESS")):
        per_slot.coalesce(4).write.mode("overwrite").parquet(root)
    return root, per_slot.schema


# Shared oracle CTE: the stream input, as DuckDB sees it.
_SLOTS_CTE = f"""
    WITH slots AS (
        SELECT event_type AS region,
               {SLOT_SQL} AS ts,
               round(avg(value) + 1e-9, 6) AS value
        FROM events GROUP BY 1, 2
    )
"""


def _run_to_table(win, name: str, mode: str):
    """Drain ``win`` into the memory table ``name``."""
    from weather4cast_bigdata_spark.streaming import pipeline as streaming

    streaming.drain(win.writeStream.format("memory").queryName(name).outputMode(mode))


@qdef(
    "streaming_sliding_windows",
    oracle=f"""
    {_SLOTS_CTE}
    SELECT region,
           win_start,
           win_start + INTERVAL 1 HOUR AS win_end,
           count(*) AS n_frames,
           round(avg(value) + 1e-9, 6) AS mean_value
    FROM (
        SELECT s.region, s.value,
               s.ts - o.o * INTERVAL 15 MINUTES AS win_start
        FROM slots s CROSS JOIN (VALUES (0), (1), (2), (3)) o(o)
    )
    GROUP BY region, win_start
    """,
)
def q_streaming_sliding_windows(spark, sf_dir):
    """Structured Streaming sequence assembly: file-arrival source →
    watermarked sliding windows (the live form of
    filter_valid_sequence + window_past_sequence; SURVEY.md §2.5
    streaming note). Runs availableNow to completion over the
    events-derived slot lake; the materialized windows hash-match the
    batch SQL (each slot lands in the 4 sliding 1h/15m windows that
    contain it)."""
    from weather4cast_bigdata_spark.streaming import pipeline as streaming

    path, schema = _stream_events_dir(spark, sf_dir)
    name = _fresh_stream_table(spark, "w4c_stream_windows")
    st = streaming.frame_stream(spark, path, schema)
    win = streaming.sliding_sequence_windows(st, span="1 hour", slide="15 minutes")
    _run_to_table(win, name, "complete")
    return spark.table(name).select(
        "region",
        F.col("win.start").alias("win_start"),
        F.col("win.end").alias("win_end"),
        "n_frames",
        r6(F.col("mean_value")).alias("mean_value"),
    )


@qdef(
    "streaming_stateful_assembly",
    oracle=f"""
    {_SLOTS_CTE},
    ordered AS (
        SELECT region, ts, value,
               lag(value, 3) OVER (PARTITION BY region ORDER BY ts) AS v0,
               lag(value, 2) OVER (PARTITION BY region ORDER BY ts) AS v1,
               lag(value, 1) OVER (PARTITION BY region ORDER BY ts) AS v2,
               row_number() OVER (PARTITION BY region ORDER BY ts) AS rn
        FROM slots
    )
    SELECT region, ts AS seq_end_ts, p.pos,
           CASE p.pos WHEN 0 THEN v0 WHEN 1 THEN v1 WHEN 2 THEN v2
                ELSE value END AS value
    FROM ordered CROSS JOIN (VALUES (0), (1), (2), (3)) p(pos)
    WHERE rn >= 4
    """,
)
def q_streaming_stateful_assembly(spark, sf_dir):
    """Custom stateful streaming operator: per-region rolling buffer
    of the last 4 frames via applyInPandasWithState — bounded state,
    event-time TTL ≈ the previous-day fallback tolerance
    (datasets.py:430-435). Over a finite availableNow lake the emitted
    window set is exactly every 4-frame event-time window per key —
    the batch SQL the oracle states."""
    from weather4cast_bigdata_spark.streaming import pipeline as streaming

    path, schema = _stream_events_dir(spark, sf_dir)
    name = _fresh_stream_table(spark, "w4c_stream_state")
    st = spark.readStream.format("parquet").schema(schema).load(path).select(
        "region", "ts", F.col("value").alias("mean_value")
    )
    seqs = streaming.stateful_sequence_assembly(st, n_past=4)
    _run_to_table(seqs, name, "append")
    # arrays explode to scalar (pos, value) rows for cross-engine
    # hashing — the registry's array-column convention
    return spark.table(name).select(
        "region", "seq_end_ts", F.posexplode("seq_values").alias("pos", "value")
    )


@qdef("sim_ivf_topk")
def q_sim_ivf_topk(spark, sf_dir):
    """End-to-end IVF ANN: spherical k-means on a bounded driver-side
    sample (centroid count independent of corpus size), broadcast
    centroids, vectorized cell assignment, nprobe=2 bucket-local
    search. Rows-only: centroid training is not SQL-expressible; the
    recall-vs-brute-force property is pinned in tests."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_centroids(emb, k=8, iters=5, seed=42)
    return similarity.ivf_cosine_topk(
        emb.where(F.col("vec_id") < 8), emb, cents, k=5, nprobe=2
    )


_IVF_RECALL_ORACLE = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    r AS (SELECT unnest(range(1, 129)) AS i),
    cent AS (SELECT vec_id AS cid, v FROM e WHERE vec_id < 8),
    csims AS (
        SELECT e.vec_id, c.cid,
               sum(e.v[r.i] * c.v[r.i])
                 / (greatest(sqrt(sum(e.v[r.i] * e.v[r.i])), 1e-12)
                    * greatest(sqrt(sum(c.v[r.i] * c.v[r.i])), 1e-12)) AS sim
        FROM e, cent c, r
        WHERE r.i <= len(e.v)
        GROUP BY e.vec_id, c.cid
    ),
    cranked AS (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cid) AS rnk
        FROM csims
    ),
    assign AS (SELECT vec_id, cid AS cell FROM cranked WHERE rnk = 1),
    dots AS (
        SELECT a.vec_id AS query_id, b.vec_id AS item_id,
               round(sum(a.v[r.i] * b.v[r.i])
                     / (greatest(sqrt(sum(a.v[r.i] * a.v[r.i])), 1e-300)
                        * greatest(sqrt(sum(b.v[r.i] * b.v[r.i])), 1e-300))
                     + 1e-9, 6) AS cos_sim
        FROM e a JOIN e b ON a.vec_id < 8 AND a.vec_id != b.vec_id, r
        WHERE r.i <= len(a.v)
        GROUP BY a.vec_id, b.vec_id
    ),
    truth AS (
        SELECT query_id, item_id FROM (
            SELECT query_id, item_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, item_id) AS rnk
            FROM dots
        ) WHERE rnk <= 5
    ),
    np AS (SELECT unnest([1, 2, 4, 8]) AS nprobe),
    probes AS (
        SELECT np.nprobe, cr.vec_id AS query_id, cr.cid AS cell
        FROM np JOIN cranked cr ON cr.rnk <= np.nprobe
        WHERE cr.vec_id < 8
    ),
    cand AS (
        SELECT p.nprobe, d.query_id, d.item_id, d.cos_sim
        FROM dots d
        JOIN assign a ON a.vec_id = d.item_id
        JOIN probes p ON p.query_id = d.query_id AND p.cell = a.cell
    ),
    ivf AS (
        SELECT nprobe, query_id, item_id FROM (
            SELECT nprobe, query_id, item_id,
                   row_number() OVER (PARTITION BY nprobe, query_id
                                      ORDER BY cos_sim DESC, item_id) AS rnk
            FROM cand
        ) WHERE rnk <= 5
    ),
    nt AS (SELECT count(*) AS n_truth FROM truth),
    hits AS (
        SELECT np.nprobe, count(i.item_id) AS n_hits
        FROM np LEFT JOIN (
            SELECT ivf.nprobe, ivf.item_id
            FROM ivf JOIN truth t
              ON t.query_id = ivf.query_id AND t.item_id = ivf.item_id
        ) i ON i.nprobe = np.nprobe
        GROUP BY np.nprobe
    )
    SELECT h.nprobe, nt.n_truth, h.n_hits,
           round(h.n_hits / nt.n_truth + 1e-9, 6) AS recall_at_5
    FROM hits h, nt
"""


@qdef("sim_ivf_recall", oracle=_IVF_RECALL_ORACLE)
def q_sim_ivf_recall(spark, sf_dir):
    """ANN quality evidence as a first-class HASH-VERIFIED query:
    recall@5 of the IVF search path vs the brute-force cosine ground
    truth, swept over nprobe ∈ {1, 2, 4, 8} of 8 cells — the
    recall/cost dial every approximate index is tuned on; at
    nprobe = n_cells the search is exhaustive, so recall must hit
    exactly 1.0 (a built-in self-check). Centroids are FIXED (the
    unit-normalized embeddings of vec_id < 8, the
    ``dedup_semantic_verified`` pattern) so the full sweep — argmax
    cell assignment, multi-probe candidate union, per-query ranking,
    the recall arithmetic — is SQL-restatable and driver-hash-checked;
    the k-means trainer itself stays exercised by ``sim_ivf_topk`` /
    ``dedup_semantic`` / ``sink_ivf_index``. At scale this runs over
    a sampled query panel — recall is a statistic, never a
    full-corpus pass."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 8)
    rows = (
        q.orderBy("vec_id")
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    )
    x = np.array([r[0] for r in rows], dtype=np.float64)
    cents = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    truth = similarity.cosine_topk(q, emb, k=5).select("query_id", "item_id")
    out = None
    for nprobe in (1, 2, 4, 8):
        ivf = similarity.ivf_cosine_topk(q, emb, cents, k=5, nprobe=nprobe).select(
            "query_id", "item_id"
        )
        hits = truth.join(ivf, on=["query_id", "item_id"], how="left_semi")
        row = (
            truth.agg(F.count(F.lit(1)).alias("n_truth"))
            .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
            .select(
                F.lit(nprobe).alias("nprobe"),
                "n_truth",
                "n_hits",
                F.round(F.col("n_hits") / F.col("n_truth") + F.lit(1e-9), 6).alias(
                    "recall_at_5"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


@qdef("dedup_semantic")
def q_dedup_semantic(spark, sf_dir):
    """SemDeDup semantic deduplication (Abbas et al. 2023): k-means
    cluster the embedding space, drop the more-centroid-similar
    member of every cluster-local pair with cosine >= 0.3 — the
    keep-the-outlier rule that prunes redundant training examples
    while preserving diversity. Cluster-local pair scan (never
    corpus²), one Arrow matmul for assignment, int-keyed joins.
    Rows-only: centroid training is not SQL-expressible; the drop
    rule itself is pinned exactly on hand-built embeddings in
    tests/test_curate_ext.py."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_centroids(emb, k=8, iters=5, seed=42)
    # 0.3 ≈ the pair density the synthetic near-orthogonal embeddings
    # actually exhibit (cf. dedup_embedding_cosine's 0.2 cut): ~36%
    # of the corpus is pruned — a realistic SemDeDup rate.
    return similarity.semantic_dedup(emb, cents, threshold=0.3)


@qdef(
    "sink_ivf_index",
    oracle="WITH " + _COSINE_SQL.format(qfilter="WHERE vec_id < 8", pair_cond=""),
)
def q_sink_ivf_index(spark, sf_dir):
    """Persisted-ANN-index lifecycle: assign every corpus vector its
    IVF cell, WRITE the corpus partitioned by cell
    (``partitionBy("ivf_bucket")`` — the index IS the lake layout),
    read it back, and search bucket-locally at full probe against
    the STORED cells. Full probe makes the result provably identical
    to the brute-force baseline, so this sink query shares
    sim_cosine_topk's SQL oracle — the first hash-matched
    round-trip of an index structure, not just of rows. A partial
    probe is asserted inline to plan with parquet PartitionFilters
    (cell directories outside the probe list are never scanned —
    at 100 TB a probe touches nprobe/k of the index bytes)."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_centroids(emb, k=8, iters=5, seed=42)
    out = scratch_dir("w4c_ivf")
    # one writer task per cell dir (not input-partitions × cells files)
    similarity.assign_ivf_buckets(emb, cents, nprobe=1).repartition(
        "ivf_bucket"
    ).write.mode("overwrite").partitionBy("ivf_bucket").parquet(out)
    lake = spark.read.parquet(out)
    # partition-pruning proof on a 2-cell probe
    probe_plan = (
        lake.where(F.col("ivf_bucket").isin(0, 1))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in probe_plan and "ivf_bucket" in probe_plan, (
        "probe scan did not push the cell filter to partition pruning"
    )
    q = similarity.assign_ivf_buckets(
        emb.where(F.col("vec_id") < 8), cents, nprobe=8
    )
    return similarity.cosine_topk_bucketed(q, lake, "ivf_bucket", k=5)


@qdef(
    "embed_quantize_int8",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    r AS (SELECT unnest(range(1, 65)) AS i),
    dims AS (
        SELECT r.i, min(e.v[r.i]) AS lo,
               greatest(max(e.v[r.i]) - min(e.v[r.i]), 1e-12) AS span
        FROM e, r GROUP BY r.i
    ),
    codes AS (
        SELECT e.vec_id, r.i, e.v[r.i] AS x,
               round((e.v[r.i] - d.lo) / d.span * 255 + 1e-9)::INT AS c,
               d.lo + round((e.v[r.i] - d.lo) / d.span * 255 + 1e-9)::INT
                   / 255.0 * d.span AS recon
        FROM e, r JOIN dims d ON d.i = r.i
    )
    SELECT vec_id,
           string_agg(c::VARCHAR, ',' ORDER BY i) AS codes,
           round(avg(abs(recon - x)) + 1e-9, 6) AS mean_abs_err
    FROM codes GROUP BY vec_id
    """,
)
def q_embed_quantize_int8(spark, sf_dir):
    """Scalar int8 quantization of the embedding corpus (per-dim
    min/max codebook + mean-abs reconstruction error) — the 4x
    index-compression step before sharding an ANN index. Pass 1 is a
    d-key min/max agg (map-side combined); pass 2 broadcasts the
    1-row codebook and quantizes JVM-side. Oracle recomputes the
    whole codebook + codes in SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.quantize_embeddings_int8(emb)


@qdef(
    "agg_salted",
    oracle="""
    SELECT event_type,
           round(sum(value) + 1e-9, 6) AS total,
           count(value) AS n,
           min(value) AS vmin,
           max(value) AS vmax,
           round(avg(value) + 1e-9, 6) AS mean
    FROM events GROUP BY event_type
    """,
)
def q_agg_salted(spark, sf_dir):
    """Skew-safe two-stage salted aggregation (SCALING.md §3 recipe
    made first-class): each hot group splits into n_salts reducer
    sub-groups, then merges — exchange volume unchanged, reducer hot
    spot gone. Result equals the plain groupBy (oracle is the
    unsalted SQL)."""
    from weather4cast_bigdata_spark.operators import skew

    ev = _t(spark, sf_dir, "events")
    out = skew.salted_agg(
        ev,
        ["event_type"],
        {
            "total": ("sum", "value"),
            "n": ("count", "value"),
            "vmin": ("min", "value"),
            "vmax": ("max", "value"),
            "mean": ("avg", "value"),
        },
        n_salts=16,
    )
    return out.select(
        "event_type", r6(F.col("total")).alias("total"), "n", "vmin", "vmax",
        r6(F.col("mean")).alias("mean"),
    )


@qdef(
    "join_salted",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_events,
           round(sum(e.value) + 1e-9, 6) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def q_join_salted(spark, sf_dir):
    """Skew-safe replicate-and-salt shuffle join (SCALING.md §3): the
    fact side salts on a row hash, the dim side replicates n_salts
    times, the join runs on (key, salt) so no reducer ever holds a
    hot key whole. For when the build side exceeds the broadcast
    budget AND the probe side has power-law keys — the third tool
    after AQE skew splitting and broadcast. Oracle is the plain
    unsalted join: the salt must never change which pairs match.
    Broadcast is disabled via hint-free sizing at scale; here the
    result equality is what's under test."""
    from weather4cast_bigdata_spark.operators import skew

    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    joined = skew.salted_join(ev, cust.select("c_custkey", "c_mktsegment").withColumnRenamed("c_custkey", "user_id"), "user_id", n_salts=8)
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_events"),
        r6(F.sum("value")).alias("sum_value"),
    )


@qdef(
    "join_bucketed_colocated",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n_items,
           round(avg(l.l_extendedprice * (1 - l.l_discount)) + 1e-9, 6) AS avg_revenue
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q_join_bucketed_colocated(spark, sf_dir):
    """Shuffle-free repeated join via bucketed layout (SCALING.md §2):
    both sides written bucketBy(8, order key) + sortBy once, then the
    sort-merge join runs with NO exchange on either side (plan
    asserted in tests/test_bucketed.py). The ingest shuffle is paid
    once; every later join on the key is exchange-free."""
    import uuid

    from weather4cast_bigdata_spark.sources import bucketed

    tag = uuid.uuid4().hex[:8]
    base = scratch_dir("w4c_bucketed")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    bucketed.write_bucketed(li, f"li_bkt_{tag}", ["l_orderkey"], 8,
                            sort_keys=["l_orderkey"], path=f"{base}/li")
    bucketed.write_bucketed(orders, f"ord_bkt_{tag}", ["o_orderkey"], 8,
                            sort_keys=["o_orderkey"], path=f"{base}/ord")
    joined = spark.table(f"li_bkt_{tag}").join(
        spark.table(f"ord_bkt_{tag}"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        r6(F.avg(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("avg_revenue"),
    )


@qdef(
    "streaming_running_gram",
    oracle=f"""
    {_SLOTS_CTE}
    SELECT round(sum((value/100.0) * (value/100.0)) / count(*) + 1e-9, 6) AS ata_0_0,
           round(sum((value/100.0) * (value/200.0)) / count(*) + 1e-9, 6) AS ata_0_1,
           round(sum((value/200.0) * (value/200.0)) / count(*) + 1e-9, 6) AS ata_1_1,
           round(sum((value/100.0) * (value/50.0)) / count(*) + 1e-9, 6) AS aty_0,
           round(sum((value/200.0) * (value/50.0)) / count(*) + 1e-9, 6) AS aty_1,
           count(*) AS n_rows
    FROM slots
    """,
)
def q_streaming_running_gram(spark, sf_dir):
    """Update-mode running Gram statistics over the frame stream —
    the streaming form of the ensemble's incremental ATA/ATy mean
    (ensemble.py:26-41): Spark's partial+final streaming aggregation
    IS the (k·A + A_batch)/(k+1) recurrence. The drained availableNow
    total equals the batch Gram over the same slots (oracle)."""
    from weather4cast_bigdata_spark.streaming import pipeline as streaming

    path, schema = _stream_events_dir(spark, sf_dir)
    name = _fresh_stream_table(spark, "w4c_stream_gram")
    st = spark.readStream.format("parquet").schema(schema).load(path).select(
        "ts",
        (F.col("value") / 100.0).alias("p1"),
        (F.col("value") / 200.0).alias("p2"),
        (F.col("value") / 50.0).alias("y"),
    )
    g = streaming.running_gram_stats(st, ["p1", "p2"], "y")
    _run_to_table(g, name, "complete")
    out = spark.table(name)
    rounded = [F.round(F.col(c) + F.lit(1e-9), 6).alias(c) for c in out.columns if c != "n_rows"]
    return out.select(*rounded, "n_rows")


@qdef(
    "streaming_session_windows",
    oracle=f"""
    {_SLOTS_CTE},
    marked AS (
        SELECT region, ts, value,
               -- Spark merges an event landing EXACTLY at session end
               -- (diff == gap): break only on diff > gap
               CASE WHEN ts - lag(ts) OVER (PARTITION BY region ORDER BY ts)
                         > INTERVAL 30 MINUTES
                    THEN 1 ELSE 0 END AS brk
        FROM slots
    ),
    sess AS (
        SELECT region, ts, value,
               sum(brk) OVER (PARTITION BY region ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    )
    SELECT region,
           min(ts) AS win_start,
           max(ts) + INTERVAL 30 MINUTES AS win_end,
           count(*) AS n_frames,
           round(avg(value) + 1e-9, 6) AS mean_value
    FROM sess GROUP BY region, sid
    """,
)
def q_streaming_session_windows(spark, sf_dir):
    """Event-time session windows over the frame stream (native
    session_window; the streaming twin of window_sessionize): a
    cadence gap ≥ the 30-min session gap closes the session, so the
    session count per region is an outage monitor. Oracle is the
    batch lag+cumsum sessionize over the same slots (Spark session
    end = last frame + gap)."""
    from weather4cast_bigdata_spark.streaming import pipeline as streaming

    path, schema = _stream_events_dir(spark, sf_dir)
    name = _fresh_stream_table(spark, "w4c_stream_sessions")
    st = streaming.frame_stream(spark, path, schema)
    sessions = streaming.session_windows(st, gap="30 minutes")
    _run_to_table(sessions, name, "complete")
    return spark.table(name).select(
        "region",
        F.col("win.start").alias("win_start"),
        F.col("win.end").alias("win_end"),
        "n_frames",
        r6(F.col("mean_value")).alias("mean_value"),
    )


@qdef(
    "streaming_dedup",
    oracle=f"""
    {_SLOTS_CTE}
    SELECT region, ts, value FROM slots
    """,
)
def q_streaming_dedup(spark, sf_dir):
    """Streaming idempotent ingest: the frame stream unioned with a
    full replay of itself (every frame delivered twice), deduped by
    (region, ts) within the watermark — output equals the distinct
    frame set (the oracle: the slot lake itself), state stays
    bounded by watermark × key cardinality."""
    from weather4cast_bigdata_spark.streaming import pipeline as streaming

    path, schema = _stream_events_dir(spark, sf_dir)
    name = _fresh_stream_table(spark, "w4c_stream_dedup")
    st = streaming.frame_stream(spark, path, schema)
    replayed = st.union(streaming.frame_stream(spark, path, schema))
    deduped = streaming.dedup_within_watermark(replayed, keys=("region", "ts"))
    _run_to_table(deduped, name, "append")
    return spark.table(name)


@qdef(
    "streaming_static_enrich",
    oracle=f"""
    {_SLOTS_CTE}
    SELECT s.region, s.ts, s.value, d.tier,
           round(s.value * d.weight + 1e-9, 6) AS weighted_value
    FROM slots s
    JOIN (VALUES ('click', 1.0, 'hot'), ('view', 0.5, 'hot'),
                 ('purchase', 2.0, 'critical'), ('signup', 1.5, 'critical'),
                 ('error', 3.0, 'alert')) d(region, weight, tier)
      ON s.region = d.region
    """,
)
def q_streaming_static_enrich(spark, sf_dir):
    """Stream-static enrichment: the frame stream broadcast-joined
    per micro-batch against a static region-metadata dim (weight +
    tier) — stateless, shuffle-free on the stream side, the pattern
    for attaching calibration/config tables to live data. The
    availableNow drain hash-matches the batch join over the same
    slot lake."""
    from weather4cast_bigdata_spark.streaming import pipeline as streaming

    path, schema = _stream_events_dir(spark, sf_dir)
    name = _fresh_stream_table(spark, "w4c_stream_enrich")
    dim = spark.createDataFrame(
        [
            ("click", 1.0, "hot"),
            ("view", 0.5, "hot"),
            ("purchase", 2.0, "critical"),
            ("signup", 1.5, "critical"),
            ("error", 3.0, "alert"),
        ],
        "region string, weight double, tier string",
    )
    st = streaming.frame_stream(spark, path, schema)
    enriched = streaming.enrich_with_static(st, dim, on="region").select(
        "region", "ts", "value", "tier", r6(F.col("value") * F.col("weight")).alias("weighted_value")
    )
    _run_to_table(enriched, name, "append")
    return spark.table(name)


@qdef(
    "window_resample_interpolate",
    oracle=f"""
    {_SLOTS_CTE},
    bounds AS (SELECT region, min(ts) AS lo, max(ts) AS hi FROM slots GROUP BY 1),
    spine AS (
        SELECT region, unnest(generate_series(lo, hi, INTERVAL 15 MINUTE)) AS ts
        FROM bounds
    ),
    dense AS (
        SELECT s.region, s.ts, sl.value AS v
        FROM spine s LEFT JOIN slots sl ON sl.region = s.region AND sl.ts = s.ts
    ),
    m AS (
        SELECT region, ts, v,
               last_value(v IGNORE NULLS) OVER wp AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS)
                   OVER wp AS pt,
               first_value(v IGNORE NULLS) OVER wn AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS)
                   OVER wn AS nt,
               epoch_us(ts) AS t
        FROM dense
        WINDOW wp AS (PARTITION BY region ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY region ORDER BY ts
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT region, ts,
           round(CASE WHEN v IS NOT NULL THEN v
                      WHEN pv IS NULL THEN nv
                      WHEN nv IS NULL THEN pv
                      ELSE pv + (nv - pv) * (t - pt) / greatest(nt - pt, 900000000)
                 END + 1e-9, 6) AS value,
           v IS NOT NULL AS is_observed
    FROM m
    """,
)
def q_window_resample_interpolate(spark, sf_dir):
    """Cadence regularization with linear gap-fill: the per-region
    15-min slot series densified to its full lattice, missing slots
    bridged by the linear interpolant between bounding observations
    (edges held flat), each row flagged observed/imputed — the batch
    generalization of the previous-day fallback and the prerequisite
    for fixed-cadence windowed training. One shuffle on the key; the
    bracket scan is two ordered IGNORE-NULLS window passes."""
    ev = _t(spark, sf_dir, "events")
    series = ev.select(F.col("event_type").alias("region"), "ts", "value")
    return windows.resample_interpolate(
        series, ["region"], "ts", "value", minutes=15
    )


def _slots_ewma_sql(alpha: float = 0.5, lookback: int = 8) -> str:
    num = ["0.0"]
    den = ["0.0"]
    for k in range(lookback):
        wk = repr(alpha**k)
        val = "value" if k == 0 else f"lag(value, {k}) OVER w"
        num.append(f"coalesce({val} * {wk}, 0.0)")
        den.append(f"CASE WHEN {val} IS NOT NULL THEN {wk} ELSE 0.0 END")
    return f"""
    {_SLOTS_CTE}
    SELECT region, ts,
           round(({' + '.join(num)}) / ({' + '.join(den)}) + 1e-9, 6) AS ewma
    FROM slots
    WINDOW w AS (PARTITION BY region ORDER BY ts)
    """


@qdef("streaming_ewma", oracle=_slots_ewma_sql())
def q_streaming_ewma(spark, sf_dir):
    """Streaming EWMA: each arriving frame emits the exponentially
    weighted mean of its region's last 8 frames in event-time order
    (stateful buffer, emit-once, event-time TTL) — the live twin of
    the batch lag-chain `window_ewma`; the availableNow drain over
    the slot lake hash-matches the batch SQL because the arithmetic
    mirrors the lag-chain term-for-term before the shared 6-decimal
    round."""
    from weather4cast_bigdata_spark.streaming import pipeline as streaming

    path, schema = _stream_events_dir(spark, sf_dir)
    name = _fresh_stream_table(spark, "w4c_stream_ewma")
    st = streaming.frame_stream(spark, path, schema)
    scored = streaming.ewma_stream(st, alpha=0.5, lookback=8)
    _run_to_table(scored, name, "append")
    return spark.table(name).select(
        "region", "ts", r6(F.col("raw_ewma")).alias("ewma")
    )


@qdef(
    "streaming_checkpoint_resume",
    oracle=f"""
    {_SLOTS_CTE}
    SELECT region, ts, value FROM slots
    """,
)
def q_streaming_checkpoint_resume(spark, sf_dir):
    """Exactly-once incremental ingest — THE production streaming
    operation at lake scale: the slot lake is split by median
    timestamp into two arrival batches; an availableNow drain with a
    checkpoint ingests batch one to a parquet sink, batch two lands
    in the source dir, and a SECOND drain over the SAME checkpoint
    ingests only the new files (the file-source log in the
    checkpoint is what makes re-runs incremental, not re-reads).
    The final sink equals the full slot set exactly once — no dupes
    from the first batch, no gaps from the second — and hash-matches
    the batch oracle."""
    import shutil

    from weather4cast_bigdata_spark.streaming import pipeline as streaming

    path, schema = _stream_events_dir(spark, sf_dir)
    full = spark.read.parquet(path)
    mid = full.agg(
        F.expr("percentile(CAST(unix_micros(CAST(ts AS TIMESTAMP)) AS DOUBLE), 0.5)")
    ).collect()[0][0]
    root = scratch_dir("w4c_ckpt_resume")
    src = os.path.join(root, "src")
    sink = os.path.join(root, "sink")
    ckpt = os.path.join(root, "ckpt")
    half_a = full.where(
        F.unix_micros(F.col("ts").cast("timestamp")) <= F.lit(int(mid))
    )
    half_b = full.where(
        F.unix_micros(F.col("ts").cast("timestamp")) > F.lit(int(mid))
    )

    def drain():
        streaming.drain(
            streaming.frame_stream(spark, src, schema)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
        )

    half_a.coalesce(2).write.mode("overwrite").parquet(src)
    # drop the batch-write _SUCCESS marker noise; the file source
    # lists data files only, but keep the dir stable for the append
    drain()
    # batch two ARRIVES: append-only new files in the same source dir
    half_b.coalesce(2).write.mode("append").parquet(src)
    drain()
    out = spark.read.parquet(sink).select("region", "ts", "value")
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


@qdef(
    "streaming_lsh_ingest",
    oracle=f"""
    {_DOC_SHINGLES_SQL},
    sig AS (
        SELECT doc_id,
               min(({_DOC_H32_SQL.format(expr='shingle')} * 1103515245 + 12345) % 2147483647) AS mh_0,
               min(({_DOC_H32_SQL.format(expr='shingle')} * 214013 + 2531011) % 2147483647) AS mh_1,
               min(({_DOC_H32_SQL.format(expr='shingle')} * 69069 + 362437) % 2147483647) AS mh_2,
               min(({_DOC_H32_SQL.format(expr='shingle')} * 1664525 + 1013904223) % 2147483647) AS mh_3
        FROM shingled GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, 0 AS band_idx,
               CAST(mh_0 AS VARCHAR) || '_' || CAST(mh_1 AS VARCHAR) AS band_key FROM sig
        UNION ALL
        SELECT doc_id, 1,
               CAST(mh_2 AS VARCHAR) || '_' || CAST(mh_3 AS VARCHAR) FROM sig
    )
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM banded l JOIN banded r
      ON l.band_idx = r.band_idx AND l.band_key = r.band_key
     AND l.doc_id < r.doc_id
    """,
)
def q_streaming_lsh_ingest(spark, sf_dir):
    """Incremental near-dup ingest driven by Structured Streaming
    (streaming/pipeline.lsh_ingest): documents arrive in micro-batches
    (maxFilesPerTrigger over a many-file lake), each batch pairs
    within itself, probes the PERSISTED band index of everything
    ingested before it, then appends its own bands — exactly-once per
    batch via batch_id-subdir writes. The drained pair set is
    BATCH-INVARIANT, so the oracle is the one-shot batch LSH
    band-collision SQL — the same identity
    tests/test_etl_inference_streaming.py pins against chunking and
    replay. At lake scale each batch costs its own bands plus an
    equi-probe of matching index keys, never a re-scan of the
    accumulated corpus."""
    from weather4cast_bigdata_spark.streaming import pipeline as streaming

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    fp = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:10]
    lake = os.path.join(tempfile.gettempdir(), f"w4c_stream_docs_{fp}")
    if not os.path.exists(os.path.join(lake, "_SUCCESS")):
        # 64 files -> the 32-files-per-trigger source drains in 2+
        # batches, exercising the cross-batch index probe
        docs.repartition(64).write.mode("overwrite").parquet(lake)
    root = scratch_dir("w4c_stream_lsh")
    index_dir = os.path.join(root, "index")
    matches_dir = os.path.join(root, "matches")
    ckpt = os.path.join(root, "ckpt")
    streaming.lsh_ingest(spark, lake, docs.schema, index_dir, matches_dir, ckpt)
    return (
        spark.read.parquet(matches_dir)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )


@qdef(
    "streaming_exact_dedup_ingest",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, md5(text) AS h FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, md5(text) AS h
        FROM documents WHERE doc_id % 7 = 0
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM corpus a JOIN corpus b
      ON a.h = b.h AND a.doc_id < b.doc_id
    """,
)
def q_streaming_exact_dedup_ingest(spark, sf_dir):
    """Incremental EXACT dedup driven by Structured Streaming
    (streaming/pipeline.exact_dedup_ingest) — the live form of
    ``sink_exact_dedup_index``: documents arrive in micro-batches
    (the corpus plus exact copies under shifted ids, randomly
    chunked so original and copy usually land in DIFFERENT batches),
    each batch pairs within itself, probes the persisted hash index
    of everything before it, then appends its own hashes. The
    drained pair set is BATCH-INVARIANT, so the oracle is the
    one-shot exact self-join between the two populations — the same
    identity tests/test_etl_inference_streaming.py pins against
    chunking and replay."""
    from weather4cast_bigdata_spark.streaming import pipeline as streaming

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(copies)
    fp = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:10]
    lake = os.path.join(tempfile.gettempdir(), f"w4c_stream_exdocs_{fp}")
    if not os.path.exists(os.path.join(lake, "_SUCCESS")):
        corpus.repartition(64).write.mode("overwrite").parquet(lake)
    root = scratch_dir("w4c_stream_exact")
    index_dir = os.path.join(root, "index")
    matches_dir = os.path.join(root, "matches")
    streaming.exact_dedup_ingest(
        spark, lake, corpus.schema, index_dir, matches_dir,
        os.path.join(root, "ckpt"),
    )
    return (
        spark.read.parquet(matches_dir)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )


@qdef("streaming_submission_h5", oracle=_SUBMISSION_MANIFEST_ORACLE)
def q_streaming_submission_h5(spark, sf_dir):
    """The submit path's live form (streaming/pipeline.
    submission_ingest): quantized cells arrive in micro-batches and
    the per-(region, day) scorer files (datasets.py:444-459) are
    maintained incrementally — each batch stages its cells under a
    batch_id-scoped hive subdir, then rewrites ONLY the files it
    touched from the accumulated (partition-pruned) staged cells.
    The drained file tree is BATCH-INVARIANT — byte-identical to the
    one-shot ``sink_submission_h5`` export however arrivals were
    chunked (pinned with replay idempotence in
    tests/test_etl_inference_streaming.py) — so the final manifest
    (latest rewrite per file) hash-matches the SAME SQL restatement
    as the batch sink."""
    from weather4cast_bigdata_spark.streaming import pipeline as streaming

    frames = _decoded_fixture_frames(spark)
    fx = weather_fixtures.load_fixtures(spark)
    dec = weather.impute(weather.decode_normalize(frames, fx["variable_meta"]))
    dec = dec.withColumn("norm", F.least(F.col("norm"), F.lit(1.0)))
    q = weather.quantize_for_submission(dec, fx["variable_meta"])
    cells = q.select("region", "day", "variable", "ts", "y", "x", "qv")
    fp = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:10]
    lake = os.path.join(tempfile.gettempdir(), f"w4c_stream_subcells_{fp}")
    if not os.path.exists(os.path.join(lake, "_SUCCESS")):
        # 64 files -> the 32-files-per-trigger source drains in 2+
        # micro-batches; random row assignment makes every (region,
        # day) group span batches, exercising the incremental rewrite
        cells.repartition(64).write.mode("overwrite").parquet(lake)
    root = scratch_dir("w4c_stream_subh5")
    streaming.submission_ingest(
        spark,
        lake,
        cells.schema,
        os.path.join(root, "staging"),
        os.path.join(root, "submission"),
        os.path.join(root, "manifest"),
        os.path.join(root, "ckpt"),
        variables=["temperature", "crr_intensity"],
        grid=_LAKE_GRID,
    )
    return streaming.submission_manifest(
        spark, os.path.join(root, "manifest")
    ).select("region", "day", "n_times", "n_cells", "qv_sum")
