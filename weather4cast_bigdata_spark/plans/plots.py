"""Prediction-vs-truth frame-grid visualization (plots.py analog).

The reference's ``plot_sequence`` (plots.py:12-51) picks specific
frames out of a 4+32 sequence — past positions (1, 3) and future
positions (0, 2, 7, 15, 31) — and lays them out as an image grid.
The DATA side of that is a positional filter over the time axis
(SURVEY.md §2.6 note), which is an engine operator. The selected
panels are tiny and render-ready for any driver-side imaging backend;
the package itself draws nothing.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PAST_FRAMES = (1, 3)
FUTURE_FRAMES = (0, 2, 7, 15, 31)
N_PAST = 4  # sequence_length=(4, 32), datasets.py:16


def frame_grid_positions(
    past_frames: Sequence[int] = PAST_FRAMES,
    future_frames: Sequence[int] = FUTURE_FRAMES,
    n_past: int = N_PAST,
) -> list[int]:
    """Absolute 0-based positions inside the 4+32 sequence: past
    panel indices, then ``n_past + f`` for each future panel."""
    return [*past_frames, *[n_past + f for f in future_frames]]


def frame_grid_data(
    frames: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    past_frames: Sequence[int] = PAST_FRAMES,
    future_frames: Sequence[int] = FUTURE_FRAMES,
    n_past: int = N_PAST,
) -> DataFrame:
    """Select the plotted frames per key: number the time axis from
    each key's first slot and keep the reference's panel positions,
    labeling each with its panel index and the reference's T-offset
    title (``T=-2``…``T=+32``). One window shuffle on the keys; the
    positional filter then prunes ~80% of the sequence before any
    pixel data moves."""
    positions = frame_grid_positions(past_frames, future_frames, n_past)
    titles = [
        *[p - n_past + 1 for p in past_frames],  # T = -n_past + frame + 1
        *[f + 1 for f in future_frames],  # T = +frame + 1
    ]
    pos_to_panel = {p: i for i, p in enumerate(positions)}
    w = Window.partitionBy(*keys).orderBy(ts_col)
    pos = F.row_number().over(w) - 1
    out = frames.withColumn("__pos", pos).where(F.col("__pos").isin(positions))
    panel = F.lit(None).cast("int")
    t_off = F.lit(None).cast("int")
    for p, i in pos_to_panel.items():
        panel = F.when(F.col("__pos") == p, F.lit(i)).otherwise(panel)
        t_off = F.when(F.col("__pos") == p, F.lit(titles[i])).otherwise(t_off)
    return out.withColumn("panel_idx", panel).withColumn("t_offset", t_off).drop("__pos")
