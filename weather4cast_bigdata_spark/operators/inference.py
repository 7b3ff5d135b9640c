"""Batched model-inference surface.

The reference feeds dense ``(batch, time, H, W, channel)`` tensors to
``model.predict`` (``datasets.py:440``, ``main.py:139,187``). The
Spark-native shape is an Arrow-batched ``mapInPandas`` over
frame-grouped rows: Spark partitions replace the batch dimension, and
the model (TF/Keras in the reference) stays a per-executor black box
loaded once per worker. TensorFlow is not installed here, so the
model factory is pluggable and tests use a deterministic linear
model — the batching/plumbing is the engine's responsibility and is
fully real.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

ModelFn = Callable[[np.ndarray], np.ndarray]


def linear_stub_model(weights: np.ndarray) -> ModelFn:
    """Deterministic stand-in for a Keras model: X @ w. Replace the
    factory with a ``tf.keras.models.load_model`` closure in a real
    deployment (models.py:337-370)."""

    def predict(x: np.ndarray) -> np.ndarray:
        return x @ weights

    return predict


def predict_frames(
    df: DataFrame,
    feature_cols: list[str],
    model_factory: Callable[[], ModelFn],
    out_col: str = "pred",
    batch_size: int = 32,
) -> DataFrame:
    """Append a model-prediction column via Arrow-batched inference.

    ``model_factory`` runs once per Python worker (lazy init — the
    Keras load cost amortizes over every batch on that executor,
    replacing the reference's per-process model singleton). Batch
    size mirrors the reference default 32 (main.py:236-237); Arrow
    batches arrive larger and are re-chunked.
    """
    schema = StructType(
        list(df.schema.fields) + [StructField(out_col, DoubleType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = model_factory()
        for pdf in batches:
            x = pdf[feature_cols].to_numpy(dtype=np.float64)
            preds = np.empty(len(pdf), dtype=np.float64)
            for i in range(0, len(pdf), batch_size):
                preds[i : i + batch_size] = model(x[i : i + batch_size])
            out = pdf.copy()
            out[out_col] = preds
            yield out

    return df.mapInPandas(run, schema=schema)


def crr_combo_switch(
    df: DataFrame,
    group_cols: list[str],
    wet_col: str,
    dry_col: str,
    rain_col: str = "crr_intensity",
    threshold: float = 0.026,
    out_col: str = "pred",
) -> DataFrame:
    """Two-model regime switch: use the wet-model output for samples
    where ANY rain pixel exceeds the threshold, else the dry model.

    Reference: models.py:249-279 (``predicate_rain_event`` at 268-270,
    ``tf.where`` at 271). The sample-level ANY is a window bool_or —
    one shuffle on the group key, then a pure projection.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols)
    has_rain = F.max((F.col(rain_col) > threshold).cast("int")).over(w) == 1
    return df.withColumn(
        out_col, F.when(has_rain, F.col(wet_col)).otherwise(F.col(dry_col))
    )


def assemble_frame_tensors(
    df: DataFrame,
    keys: list[str],
    y_col: str = "y",
    x_col: str = "x",
    val_col: str = "value",
    grid: tuple[int, int] = (8, 8),
) -> DataFrame:
    """Dense-tensor scatter assembly — the numba scatter kernel analog
    (datasets.py:350-356): per group, scatter (y, x, value) rows into
    an H×W array inside an Arrow batch. The shuffle on ``keys``
    replaces the reference's manual batch indexing; emits shape +
    pixel count + checksum (not the tensor) so coverage is verifiable
    without shipping rasters back through the driver.
    """
    from pyspark.sql.types import IntegerType

    h, w = grid
    schema = StructType(
        [df.schema[k] for k in keys]
        + [
            StructField("h", IntegerType()),
            StructField("w", IntegerType()),
            StructField("n_px", IntegerType()),
            StructField("checksum", DoubleType()),
        ]
    )

    def scatter(pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.zeros((h, w), dtype=np.float32)
        vals = np.nan_to_num(pdf[val_col].to_numpy(dtype=np.float32))
        arr[pdf[y_col].to_numpy(dtype=np.int64), pdf[x_col].to_numpy(dtype=np.int64)] = vals
        head = {k: pdf[k].iloc[0] for k in keys}
        return pd.DataFrame(
            [
                {
                    **head,
                    "h": h,
                    "w": w,
                    "n_px": int(len(pdf)),
                    "checksum": float(arr.sum(dtype=np.float64)),
                }
            ]
        )

    return df.groupBy(*keys).applyInPandas(scatter, schema)
