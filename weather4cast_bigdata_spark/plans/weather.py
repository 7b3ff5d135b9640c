"""End-to-end weather pipeline plans — the reference's actual dataflow
(SURVEY.md §3) rebuilt on the long frame layout.

decode → normalize → impute → sequence validity → static attach →
ensemble fit (Gram + driver ridge) → blend → evaluate → quantize →
partitioned sink. Every step is a composition of the library
operators; nothing here is weather-fixture-specific except column
names, so the same plans run on the real 256×256 lake.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from weather4cast_bigdata_spark.functions import scalar
from weather4cast_bigdata_spark.operators import aggregates, joins, windows
from weather4cast_bigdata_spark.solve import fit_ensemble_weights


def decode_normalize(frames: DataFrame, variable_meta: DataFrame) -> DataFrame:
    """Raw coded frames → float in [0,1] with fill→NULL.

    Reference: datasets.py:59-73 (decode + minmax normalize). The
    per-variable constants ride a broadcast dim join instead of a
    hard-coded dict.
    """
    j = joins.join_static_broadcast(frames, variable_meta, on=["variable"])
    fill = F.col("value").isNull() | (F.col("value") == F.col("fill_code"))
    norm = (F.col("value") - F.col("valid_lo")) / (F.col("valid_hi") - F.col("valid_lo"))
    return j.withColumn("norm", F.when(~fill, norm)).drop(
        "valid_lo", "valid_hi", "fill_code", "quant_hi"
    )


def impute(decoded: DataFrame) -> DataFrame:
    """Temperature fill ← frame mean of non-fill pixels (all-fill
    frame ← 0); other variables fill ← 0.

    Reference: datasets.py:65-71.
    """
    from pyspark.sql import Window

    # include subset when present: training/validation frames can
    # coexist at the same (region, product, variable, ts) in the
    # partitioned lake, and a frame's mean must never blend pixels
    # across subsets
    frame_keys = [
        c for c in ("region", "subset", "product", "variable", "ts")
        if c in decoded.columns
    ]
    frame_w = Window.partitionBy(*frame_keys)
    frame_mean = F.avg("norm").over(frame_w)  # avg skips NULLs
    imputed = F.when(
        F.col("norm").isNotNull(), F.col("norm")
    ).otherwise(
        F.when(
            F.col("variable") == "temperature", F.coalesce(frame_mean, F.lit(0.0))
        ).otherwise(F.lit(0.0))
    )
    return decoded.withColumn("norm", imputed)


def valid_start_times(frames: DataFrame, n_slots: int = 36) -> DataFrame:
    """Start times with all ``n_slots`` consecutive 15-min frames
    present for every product of the region — the reference's
    set-intersection + window validity (datasets.py:229-240, 39-47).

    Per-(region, product) validity via lead-checks, then INTERSECT
    across products by a group-count equality (single shuffle, no
    k-way join chain).
    """
    # subset-aware when present: a slot existing only in the other
    # subset must not validate a sequence that is gapped within one
    stream_keys = [c for c in ("region", "subset") if c in frames.columns]
    per_product = frames.select(*stream_keys, "product", "ts").distinct()
    valid = windows.filter_valid_sequence(
        per_product, keys=[*stream_keys, "product"], slot_col="ts", n_slots=n_slots
    )
    # Product count stays inside the plan as a broadcast scalar — no
    # eager driver-side pass over the lake just to learn |products|.
    totals = frames.select("product").distinct().agg(
        F.count(F.lit(1)).alias("_n_products_total")
    )
    return (
        valid.groupBy(*stream_keys, "ts")
        .agg(F.count(F.lit(1)).alias("n_products"))
        .crossJoin(F.broadcast(totals))
        .where(F.col("n_products") == F.col("_n_products_total"))
        .select(*stream_keys, "ts")
    )


def attach_static(frames: DataFrame, static_grid: DataFrame) -> DataFrame:
    """Broadcast-join per-pixel static channels with the reference's
    geo normalizations (datasets.py:142-149): lon←(lon+76)/152,
    lat←(lat−23)/63, elevation clamped and globally max-scaled.

    The global max rides an unpartitioned window over the tiny dim
    table: a separate aggregate cross-joined back would be a second
    branch over ``static_grid`` and decode it twice (Catalyst does not
    dedupe common subtrees)."""
    elev = scalar.clamp_nonneg(F.col("elevation"))
    g = static_grid.select(
        "region",
        "y",
        "x",
        scalar.affine(F.col("longitude"), 76.0, 152.0).alias("lon_norm"),
        scalar.affine(F.col("latitude"), -23.0, 63.0).alias("lat_norm"),
        (elev / F.max(elev).over(Window.partitionBy())).alias("elev_norm"),
    )
    return joins.join_static_broadcast(frames, g, on=["region", "y", "x"])


def fit_ensemble_weights_plan(
    predictions: DataFrame, sum1: bool = False, model_ids=None
) -> np.ndarray:
    """Distributed Gram aggregation over the (model-pivoted)
    prediction stream → driver-side ridge solve.

    Reference: ensemble.py:18-57. The pivot aligns k model streams on
    (region, ts, variable, y, x) — key-based, not positional. Pass
    ``model_ids`` (the ensemble roster is always known to the caller,
    main.py:10-33) so the pivot skips its value-discovery pass — an
    eager extra scan of the full prediction stream at 100 TB.
    """
    keys = ["region", "ts", "variable", "y", "x"]
    pivot = predictions.groupBy(*keys, "truth").pivot(
        "model_id", *([list(model_ids)] if model_ids is not None else [])
    )
    wide = pivot.agg(F.first("pred"))
    # weight order = caller's roster order when given (model ids can
    # be any type — never parse them as ints); else Spark's sorted
    # discovery order, taken straight from the pivot columns
    pred_cols = (
        [str(m) for m in model_ids]
        if model_ids is not None
        else [c for c in wide.columns if c not in keys + ["truth"]]
    )
    return fit_ensemble_weights(wide, pred_cols, "truth", sum1=sum1)


def blend_predictions(
    predictions: DataFrame, weights: DataFrame, scheme: str = "ridge", logit: bool = False
) -> DataFrame:
    """Σ wᵢ·predᵢ with weights from the dim table (optionally in
    normlogit space for asii). Reference: ensemble.py:81-101,
    main.py:10-33."""
    keys = ["region", "ts", "variable", "y", "x"]
    w = weights.where(F.col("scheme") == scheme).select("variable", "model_id", "weight")
    j = joins.join_static_broadcast(predictions, w, on=["variable", "model_id"])
    p = scalar.normlogit(F.col("pred")) if logit else F.col("pred")
    agg = j.groupBy(*keys, "truth").agg(F.sum(p * F.col("weight")).alias("blend"))
    if logit:
        agg = agg.withColumn("blend", scalar.inv_normlogit(F.col("blend")))
    return agg


def evaluate_blend(blended: DataFrame) -> DataFrame:
    """Per-variable MSE of the blended prediction vs truth
    (main.py:139,187 analog)."""
    return blended.groupBy("variable").agg(
        aggregates.mse(F.col("blend"), F.col("truth")).alias("mse"),
        F.count(F.lit(1)).alias("n"),
    )


def quantize_for_submission(
    decoded: DataFrame, variable_meta: DataFrame
) -> DataFrame:
    """[0,1] → integer code per variable constants + previous-day
    directory stamp — the submission layout (datasets.py:379-394,
    444-459; u16 stored as int32, SURVEY.md §4)."""
    j = joins.join_static_broadcast(
        decoded, variable_meta.select("variable", "quant_hi"), on=["variable"]
    )
    qv = F.floor(F.col("norm") * F.col("quant_hi") + F.lit(0.5)).cast("int")
    out = j.withColumn("qv", qv).drop("quant_hi")
    return windows.day_boundary_correct(out, "ts", out_col="day")


def write_submission(df: DataFrame, path: str) -> None:
    """Partitioned compressed sink — the HDF5-per-(region,day) writer
    re-read as a parquet lake (datasets.py:444-459; gzip-9 → zstd).
    Repartitioned on the partition axes first: one writer task per
    (region, day) directory instead of every input partition opening
    a file in every directory."""
    (
        df.repartition("region", "day")
        .write.partitionBy("region", "day")
        .option("compression", "zstd")
        .mode("overwrite")
        .parquet(path)
    )
