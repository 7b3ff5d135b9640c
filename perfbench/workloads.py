"""The benchmark's workloads.

Each workload generates its inputs from the seed, computes an
independent reference once, and runs passes through the package's
public functions. A pass returns a result digest that is compared with
the reference. With a tracer, a pass records one span per layer and
materializes each layer's output at its boundary, so per-layer stage
metrics come from the layer that caused them.
"""

from __future__ import annotations

import functools
import os
import shutil

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)
from pyspark.storagelevel import StorageLevel

import gen
import spans

from weather4cast_bigdata_spark import solve
from weather4cast_bigdata_spark.functions import text
from weather4cast_bigdata_spark.operators import aggregates, dedup, inference, setops, windows
from weather4cast_bigdata_spark.plans import registry_weather  # noqa: F401  (registers entries)
from weather4cast_bigdata_spark.plans import curation, weather
from weather4cast_bigdata_spark.plans.registry import REGISTRY
from weather4cast_bigdata_spark.sources import catalog, hdf5, netcdf
from weather4cast_bigdata_spark.streaming import pipeline
from weather4cast_bigdata_spark.testing import digest_exprs


class Pass:
    """Per-pass context: the tracer (or None), and what the pass
    persisted, so the pass can release it."""

    def __init__(self, tracer: spans.Tracer | None):
        self.tracer = tracer
        self.persisted = []

    def layer(self, name: str, build):
        """Untraced: the lazy DataFrame. Traced: the DataFrame
        materialized inside a span, with its row count."""
        if self.tracer is None:
            return build()
        with self.tracer.span(name) as s:
            df = build().persist(StorageLevel.MEMORY_AND_DISK)
            self.persisted.append(df)
            s.counts["rows_out"] = df.count()
        return df

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else _NoSpan()

    def release(self) -> None:
        for df in self.persisted:
            df.unpersist()
        self.persisted.clear()


class _NoSpan:
    """Stands in for a span in an untraced pass."""

    def __enter__(self):
        self.counts = {}
        return self

    def __exit__(self, *exc):
        return None


def digest(spark, df, view: str) -> tuple[int, str]:
    """Order-invariant (row count, value digest) of a result, computed
    inside Spark — the same canonical form the DuckDB side computes."""
    sel, _ = digest_exprs(df.schema)
    df.createOrReplaceTempView(view)
    row = spark.sql(f"SELECT {sel} FROM {view}").collect()[0]
    return int(row["n_rows"]), str(row["digest"])


def oracle_digest(sf_dir: str, tables: list[str], oracle_sql: str, schema) -> tuple[int, str]:
    """The registry's DuckDB oracle SQL on the generated parquet,
    reduced to the same digest."""
    _, sel = digest_exprs(schema)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        n, d = con.execute(f"SELECT {sel} FROM ({oracle_sql})").fetchone()
    finally:
        con.close()
    return int(n), str(d)


# ---------------------------------------------------------------------------
# submit: the paper's core dataflow, batch and streaming
# ---------------------------------------------------------------------------

FEATURES = ["norm", "norm_lag1", "norm_lag2", "norm_lag3", "lon_norm", "lat_norm", "elev_norm"]
# Three stand-in models (linear in the 7 features); the ensemble fit
# learns one blend of them for all variables.
MODEL_WEIGHTS = (
    np.array([0.55, 0.25, 0.10, 0.05, 0.02, 0.02, 0.01]),
    np.array([0.30, 0.30, 0.20, 0.10, 0.05, 0.03, 0.02]),
    np.array([0.80, 0.05, 0.05, 0.05, 0.0, 0.0, 0.05]),
)
MODEL_IDS = [0, 1, 2]
STACKED_WEIGHTS = np.concatenate(MODEL_WEIGHTS)
KEYS = ["region", "ts", "variable", "y", "x"]


class Submit:
    """The paper's submit path, batch then live. Batch: frame lake →
    decode → normalize/impute → 4-frame windows with next-slot truth →
    static join → 3-model inference → ridge ensemble fit → blend →
    quantize → per-(region, day) HDF5 files, each written once. Live:
    the same quantized cells arrive as one file per (region, slot) tick,
    in two waves that cross midnight, and
    ``streaming.pipeline.submission_ingest`` drains each wave with one
    checkpoint, rewriting the touched files from its growing staging
    lake. A closed loop with one client."""

    name = "submit"
    scan_format, scan_path = "binaryFile", "/w4c/"
    N_SLOTS = 16
    GRID = 8

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.lake = os.path.join(work, "lake")
        self.tick_dir = os.path.join(work, "ticks")

    def generate(self) -> dict:
        """The frame lake; then the numpy reference, and from its
        quantized cells the stream's tick files, which the first pass
        already needs."""
        props = gen.frame_lake(self.seed, self.lake, self.N_SLOTS, self.GRID)
        self.scan_rows = props["n_files"]
        self.expected, quantized = submit_reference(self.seed, self.lake, props)
        self.waves = gen.write_ticks(self.tick_dir, quantized)
        self.staged_rows = sum(len(v) * self.GRID**2 for v in quantized.values())
        props = {k: v for k, v in props.items() if k != "present"}
        return {**props, "ticks_per_wave": [len(w) for w in self.waves]}

    def reference(self, spark) -> None:
        """Computed with the inputs, in :meth:`generate`."""

    def run_pass(self, spark, out: str, tracer=None):
        return {
            "batch": self._batch(spark, os.path.join(out, "batch"), tracer),
            "stream": self._stream(spark, os.path.join(out, "stream"), tracer),
        }

    def _stream(self, spark, out: str, tracer) -> list[tuple]:
        p = Pass(tracer)
        src = os.path.join(out, "src")
        dirs = [os.path.join(out, d) for d in ("staging", "submission", "manifest", "ckpt")]
        os.makedirs(src)
        for wave in self.waves:
            for f in wave:  # the ticks arrive
                shutil.copy(f, src)
            with p.span("streaming.pipeline.ingest") as s:
                pipeline.submission_ingest(
                    spark, src, TICK_STRUCT, *dirs, gen.VARIABLES, grid=(self.GRID, self.GRID)
                )
                s.counts["ticks"] = len(wave)
        manifest = pipeline.submission_manifest(spark, dirs[2]).collect()
        return _manifest_rows(manifest)

    def _batch(self, spark, out: str, tracer) -> list[tuple]:
        p = Pass(tracer)
        g = self.GRID
        meta = spark.createDataFrame(
            [(v, lo, hi, fc, qh) for v, (lo, hi, fc, qh) in gen.VARIABLE_META.items()],
            "variable string, valid_lo double, valid_hi double, fill_code double, quant_hi int",
        )
        scanned = netcdf.scan_frame_files(spark, f"{self.lake}/w4c/*/*/*/*/*.nc")
        frames = p.layer(
            "sources.netcdf.decode",
            lambda: netcdf.decode_frames(scanned, gen.PRODUCT_VARS, grid=(g, g)),
        )
        static = p.layer(
            "sources.netcdf.static",
            lambda: netcdf.scan_static_navigation(
                spark, f"{self.lake}/nav/*_latlon.nc", grid=(g, g)
            ).join(
                netcdf.scan_static_raw(spark, f"{self.lake}/nav/*_elevation.dat", grid=(g, g)),
                ["region", "y", "x"],
            ),
        )
        dec = p.layer(
            "plans.weather.normalize_impute",
            lambda: weather.impute(weather.decode_normalize(frames, meta)),
        )
        # one row per file is enough to decide sequence validity
        starts = p.layer(
            "plans.weather.valid_start_times",
            lambda: weather.valid_start_times(
                scanned.select("region", "subset", "product", "ts"), n_slots=5
            ),
        )

        def windowed():
            keys = ["region", "subset", "variable", "y", "x"]
            w = windows.past_sequence(dec, keys, "ts", "norm", n_past=4)
            w = windows.future_horizon(w, keys, "ts", "norm", n_future=1)
            # a window is usable when its 4 past slots and the next
            # (truth) slot all exist: its last past slot is start + 3
            last = starts.withColumn("ts", F.col("ts") + F.expr("INTERVAL 45 MINUTES"))
            return w.join(F.broadcast(last), ["region", "subset", "ts"]).withColumnRenamed(
                "norm_lead1", "truth"
            )

        seq = p.layer("operators.windows.past_sequence", windowed)
        feat = p.layer("plans.weather.attach_static", lambda: weather.attach_static(seq, static))

        def predicted():
            # the three models run as one batched inference call: each
            # (frame cell, model) row carries its features masked to its
            # model's slot of a stacked linear model
            models = spark.createDataFrame([(k,) for k in MODEL_IDS], "model_id int")
            rows = feat.select(*KEYS, "truth", *FEATURES).crossJoin(F.broadcast(models))
            stacked = rows.select(
                *KEYS, "truth", "model_id",
                *[
                    F.when(F.col("model_id") == k, F.col(f)).otherwise(0.0).alias(f"{f}_m{k}")
                    for k in MODEL_IDS for f in FEATURES
                ],
            )
            cols = [f"{f}_m{k}" for k in MODEL_IDS for f in FEATURES]
            return inference.predict_frames(
                stacked, cols, functools.partial(inference.linear_stub_model, STACKED_WEIGHTS)
            ).select(*KEYS, "truth", "model_id", "pred")

        preds = p.layer("operators.inference.predict_frames", predicted)
        if tracer is None:
            # the fit and the blend both read the predictions
            preds = preds.persist(StorageLevel.MEMORY_AND_DISK)
            p.persisted.append(preds)

        with p.span("plans.weather.fit_ensemble"):
            if tracer is None:
                w = weather.fit_ensemble_weights_plan(preds, model_ids=MODEL_IDS)
            else:
                w = _fit_traced(preds, tracer)
        weights = [(v, k, float(w[i]), "ridge") for v in gen.VARIABLES for i, k in enumerate(MODEL_IDS)]
        wdf = spark.createDataFrame(
            weights, "variable string, model_id int, weight double, scheme string"
        )
        blended = p.layer("plans.weather.blend", lambda: weather.blend_predictions(preds, wdf))
        quant = p.layer(
            "plans.weather.quantize",
            lambda: weather.quantize_for_submission(
                blended.select(
                    *KEYS, F.least(F.greatest("blend", F.lit(0.0)), F.lit(1.0)).alias("norm")
                ),
                meta,
            ),
        )
        with p.span("sources.hdf5.write") as s:
            manifest = hdf5.write_submission_h5(
                quant.select("region", "day", "variable", "ts", "y", "x", "qv"),
                out, gen.VARIABLES, grid=(g, g),
            ).collect()
            s.counts["files"] = len(manifest)
            s.counts["bytes"] = sum(os.path.getsize(r["path"]) for r in manifest)
        p.release()
        return _manifest_rows(manifest)

    def check(self, result) -> bool:
        return result["batch"] == self.expected and result["stream"] == self.expected


TICK_STRUCT = StructType(
    [
        StructField("region", StringType()),
        StructField("day", StringType()),
        StructField("variable", StringType()),
        StructField("ts", TimestampType()),
        StructField("y", IntegerType()),
        StructField("x", IntegerType()),
        StructField("qv", IntegerType()),
    ]
)


def _manifest_rows(manifest) -> list[tuple]:
    return sorted(
        (r["region"], int(r["day"]), int(r["n_times"]), int(r["n_cells"]), int(r["qv_sum"]))
        for r in manifest
    )


def _fit_traced(preds, tracer):
    """``plans.weather.fit_ensemble_weights_plan`` re-composed so that
    the driver-side ridge solve gets its own span."""
    cols = [str(k) for k in MODEL_IDS]
    wide = preds.groupBy(*KEYS, "truth").pivot("model_id", MODEL_IDS).agg(F.first("pred"))
    row = aggregates.gram_matrix(wide, cols, "truth").collect()[0]
    with tracer.span("solve.ridge"):
        ata, aty = solve.gram_row_to_matrices(row, len(cols))
        return solve.solve_ridge(ata, aty)


def submit_reference(seed: int, lake: str, props: dict) -> tuple[list[tuple], dict]:
    """A numpy restatement of the batch dataflow, down to the manifest
    aggregates (region, day, n_times, n_cells, qv_sum). Also returns
    the quantized cells, ``{(region, slot): {variable: qv[g, g]}}``."""
    g, n_slots = props["grid"], props["slots"]
    present = {k: set(v) for k, v in props["present"].items()}
    ridge_rows: list = []
    cells = []  # (region, variable, slot, preds[g*g, 3], truth)

    # static channels
    elev_all = {}
    for region in gen.REGIONS:
        with open(os.path.join(lake, "nav", f"{region}_elevation.dat"), "rb") as f:
            elev_all[region] = np.frombuffer(f.read(), dtype=np.float32).reshape(g, g)
    emax = max(float(np.maximum(e.astype(np.float64), 0.0).max()) for e in elev_all.values())
    for region in gen.REGIONS:
        nav = f"{region}_latlon.nc"
        lat = np.float32(23.0) + gen.fake_pixels(nav, "latitude", g).astype(np.float32) / np.float32(32.0)
        lon = np.float32(-76.0) + gen.fake_pixels(nav, "longitude", g).astype(np.float32) / np.float32(8.0)
        lon_n = (lon.astype(np.float64) + 76.0) / 152.0
        lat_n = (lat.astype(np.float64) + -23.0) / 63.0
        elev_n = np.maximum(elev_all[region].astype(np.float64), 0.0) / emax
        starts = [
            s for s in range(n_slots - 4)
            if all(s + k in present[f"{region}/{p}"] for p in gen.PRODUCT_VARS for k in range(5))
        ]
        for product, (variable,) in gen.PRODUCT_VARS.items():
            lo, hi, fill, _ = gen.VARIABLE_META[variable]
            norm = {}
            for s in sorted(present[f"{region}/{product}"]):
                ts = gen.T0 + s * gen.CADENCE
                raw = gen.fake_pixels(gen.frame_name(seed, product, region, ts), variable, g)
                v = np.where(raw == fill, np.nan, (raw - lo) / (hi - lo))
                if np.isnan(v).any():
                    if variable == "temperature":
                        m = np.nanmean(v) if not np.isnan(v).all() else 0.0
                        v = np.where(np.isnan(v), m, v)
                    else:
                        v = np.nan_to_num(v, nan=0.0)
                norm[s] = v
            for s in starts:
                x = np.stack(
                    [norm[s + 3], norm[s + 2], norm[s + 1], norm[s], lon_n, lat_n, elev_n], axis=-1
                ).reshape(-1, len(FEATURES))
                preds = np.stack([x @ w for w in MODEL_WEIGHTS], axis=1)
                truth = norm[s + 4].reshape(-1)
                ridge_rows.append((preds, truth))
                cells.append((region, variable, s + 3, preds, truth))
    a = np.vstack([r[0] for r in ridge_rows])
    y = np.concatenate([r[1] for r in ridge_rows])
    ata, aty = a.T @ a, a.T @ y
    lam = 1e-4 * float(np.mean(np.diag(ata)))
    weights = np.linalg.solve(ata + lam * np.eye(3), aty)
    agg: dict[tuple, list] = {}
    quantized: dict[tuple, dict] = {}
    for region, variable, slot, preds, _ in cells:
        blend = np.clip(preds @ weights, 0.0, 1.0)
        qv = np.floor(blend * gen.VARIABLE_META[variable][3] + 0.5).astype(np.int64)
        quantized.setdefault((region, slot), {})[variable] = qv.reshape(g, g)
        ts = gen.T0 + slot * gen.CADENCE
        key = (region, int(gen.submission_day(ts)))
        a = agg.setdefault(key, [set(), 0, 0])
        a[0].add(slot)
        a[1] += qv.size
        a[2] += int(qv.sum())
    return sorted((r, d, len(a[0]), a[1], a[2]) for (r, d), a in agg.items()), quantized


# ---------------------------------------------------------------------------
# curate_vectors: document curation and the similarity family
# ---------------------------------------------------------------------------

# sim_lsh_banded is left out: a run has room for one steady pass only,
# and multiprobe covers the LSH bucketing path
VECTOR_QUERIES = {
    "sim_lsh_multiprobe": "operators.similarity.multiprobe",
    "dedup_embedding_cosine": "operators.similarity.embedding_cosine",
    "sim_ivf_topk": "operators.similarity.ivf_topk",
}
CURATION = "curation_pipeline"
IVF_QUERIES, IVF_K = 8, 5
# recall@5 against the exact top 5 that sim_ivf_topk (2 probed cells of
# its k-means) must reach over its 8 queries. Over 60 seeds of this
# generator it reached 0.85 to 1.0 (median 1.0); a search that probes
# the wrong cells finds almost none of the exact neighbours.
IVF_MIN_RECALL = 0.75


class CurateVectors:
    """``plans.curation.curate`` over a generated ``documents`` table
    with planted exact and near duplicates (the registry's
    ``curation_pipeline``), then three registry entries of
    ``operators.similarity`` over clustered embeddings with planted
    near duplicates. A closed loop with one client."""

    name = "curate_vectors"
    scan_format, scan_path = "parquet", "embeddings.parquet"
    N_DOCS = 1000
    N_VECTORS = 1000

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.sf = os.path.join(work, "lake")

    def generate(self) -> dict:
        docs, dprops = gen.documents(self.seed, self.N_DOCS)
        gen.write_table(docs, gen.DOCUMENTS_SCHEMA, self.sf, "documents")
        emb, eprops = gen.embeddings(self.seed, self.N_VECTORS)
        gen.write_table(emb, gen.EMBEDDINGS_SCHEMA, self.sf, "embeddings")
        self.vectors = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
        self.scan_rows = self.N_VECTORS
        return {"documents": dprops, "embeddings": eprops}

    def reference(self, spark) -> None:
        """DuckDB oracle digests; needs the result schemas, which the
        first pass records."""
        self.expected = {
            q: oracle_digest(self.sf, [REGISTRY_TABLES[q]], REGISTRY[q].oracle, self.schemas[q])
            for q in (CURATION, *VECTOR_QUERIES)
            if REGISTRY[q].oracle is not None
        }

    def run_pass(self, spark, out: str, tracer=None):
        self.schemas = {}
        p = Pass(tracer)
        if tracer is None:
            df = REGISTRY[CURATION].fn(spark, self.sf)
        else:
            df = _curate_traced(spark, self.sf, p)
        self.schemas[CURATION] = df.schema
        result = {CURATION: digest(spark, df, "c_curated")}
        p.release()
        for q, span in VECTOR_QUERIES.items():
            with p.span(span) as s:
                df = REGISTRY[q].fn(spark, self.sf)
                self.schemas[q] = df.schema
                if REGISTRY[q].oracle is None:
                    rows = df.toPandas()
                    result[q] = (len(rows), self._ivf_ok(rows))
                else:
                    result[q] = digest(spark, df, f"v_{q}")
                s.counts["rows_out"] = result[q][0]
        return result

    def _ivf_ok(self, rows: pd.DataFrame) -> bool:
        """IVF top-k has no SQL oracle (its centroids come from driver
        k-means); check it against numpy instead: per query 5 distinct
        ranked items, no self-match, cosines as computed here and
        non-increasing with rank, and recall@5 against the exact top 5
        of at least ``IVF_MIN_RECALL``."""
        v = self.vectors
        unit = v / np.linalg.norm(v, axis=1, keepdims=True)
        if sorted(rows["query_id"].unique().tolist()) != list(range(IVF_QUERIES)):
            return False
        hits = 0
        for qid, g in rows.groupby("query_id"):
            g = g.sort_values("rank")
            items = g["item_id"].to_numpy()
            if g["rank"].tolist() != list(range(1, IVF_K + 1)) or len(set(items)) != IVF_K:
                return False
            if (items == qid).any():
                return False
            sims = unit @ unit[qid]
            if np.abs(sims[items] - g["cos_sim"].to_numpy()).max() > 2e-6:
                return False
            if (np.diff(g["cos_sim"].to_numpy()) > 0).any():
                return False
            sims[qid] = -np.inf
            hits += len(set(items) & set(np.argsort(-sims, kind="stable")[:IVF_K].tolist()))
        return hits >= IVF_MIN_RECALL * IVF_QUERIES * IVF_K

    def check(self, result) -> bool:
        return all(
            result[q] == self.expected.get(q, (IVF_QUERIES * IVF_K, True))
            for q in (CURATION, *VECTOR_QUERIES)
        )


REGISTRY_TABLES = {CURATION: "documents", **{q: "embeddings" for q in VECTOR_QUERIES}}


def _curate_traced(spark, sf: str, p: Pass):
    """``plans.curation.curate`` re-composed from the public functions
    it calls, one span per step; its digest must equal the untraced
    ``curate`` output, so a drift between the two shows."""
    docs = p.layer("sources.catalog.load", lambda: catalog.load_table(spark, sf, "documents"))
    scored = p.layer(
        "functions.text.quality",
        lambda: docs.withColumn(
            "quality", F.round(text.quality_score(F.col("text")) + F.lit(1e-9), 6)
        ).where(F.col("quality") >= F.lit(0.5)),
    )

    def exact_survivors():
        w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
        return (
            scored.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )

    exact = p.layer("plans.curation.exact", exact_survivors)
    pairs = p.layer(
        "operators.dedup.ngram_jaccard",
        lambda: dedup.ngram_jaccard_pairs_docs(exact, threshold=0.5, max_df=dedup.NGRAM_MAX_DF),
    )
    comp = p.layer(
        "operators.dedup.connected_components",
        lambda: dedup.connected_components(pairs).withColumnRenamed("id", "doc_id"),
    )

    def canonical():
        c = comp
        if c.count() <= curation.BROADCAST_LABELS_MAX_ROWS:
            c = F.broadcast(c)
        return (
            exact.join(c, on="doc_id", how="left")
            .where(F.coalesce(F.col("comp"), F.col("doc_id")) == F.col("doc_id"))
            .drop("comp")
        )

    kept = p.layer("plans.curation.canonical", canonical)
    return p.layer(
        "operators.setops.split",
        lambda: setops.stratified_split(kept, "doc_id").select(
            "doc_id", "lang", "split",
            text.token_count(F.col("text")).alias("n_tokens"), "quality",
        ),
    )


WORKLOADS = {w.name: w for w in (Submit, CurateVectors)}

# Per-layer metrics a traced run reports, as (span, field, unit). A
# span that a workload does not run reports 0. Row counts are fixed by
# the output check, so they stay in the spans file, not in this list.
_SHUFFLING = [
    "plans.weather.normalize_impute",
    "plans.weather.valid_start_times",
    "operators.windows.past_sequence",
    "plans.weather.attach_static",
    "plans.weather.fit_ensemble",
    "plans.weather.blend",
    "plans.curation.exact",
    "operators.dedup.ngram_jaccard",
]
SPANS = [
    "sources.netcdf.decode",
    "sources.netcdf.static",
    *_SHUFFLING[:4],
    "operators.inference.predict_frames",
    *_SHUFFLING[4:6],
    "solve.ridge",
    "plans.weather.quantize",
    "sources.hdf5.write",
    "streaming.pipeline.ingest",
    "sources.catalog.load",
    "functions.text.quality",
    *_SHUFFLING[6:],
    "operators.dedup.connected_components",
    "plans.curation.canonical",
    "operators.setops.split",
    *VECTOR_QUERIES.values(),
]
PER_LAYER = (
    [(s, f, "s") for s in SPANS for f in ("self_s", "driver_s", "cpu_s")]
    + [(s, f, u) for s in _SHUFFLING for f, u in
       (("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("task_skew", "ratio"))]
    + [(s, f, u) for s in ("operators.dedup.connected_components", *VECTOR_QUERIES.values())
       for f, u in (("jobs", "count"), ("shuffle_write_mb", "MB"), ("task_skew", "ratio"))]
    + [("sources.hdf5.write", "bytes", "bytes")]
)
