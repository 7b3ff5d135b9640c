"""Structured Streaming forms of the batch pipeline.

The reference's cadence is one frame / 15 min / (region, product)
(``datasets.py:175``). The live reading of its pipeline is
file-arrival micro-batches over the same partitioned lake, sliding
windows for sequence assembly with a ~24 h watermark covering the
previous-day fallback tolerance (``datasets.py:430-435``), and
running aggregates for the ensemble's incremental Gram statistics
(``ensemble.py:26-41``). The batch operators are pure DataFrame
transforms, so most of them compose onto ``readStream`` unchanged.

Two mechanisms carry the rest, each written once:

- **One event-time rolling buffer** (``_event_time_buffer``), the
  module's only ``applyInPandasWithState`` operator. Per region it
  keeps the last ``size`` frames in event-time order, inserts late
  frames at their true position, emits every window of at least
  ``min_len`` frames exactly once and expires state on an event-time
  TTL. ``stateful_sequence_assembly`` and ``ewma_stream`` differ only
  in ``size``, ``min_len`` and what they emit per window.
- **One exactly-once micro-batch protocol.** A ``foreachBatch`` ingest
  writes deterministic overwrites under ``batch_id=N`` directories and
  skips a replayed batch only when every one of its outputs is
  committed (``_committed``); a partly committed batch runs again and
  rewrites the same bytes. ``drain`` runs a query availableNow to
  completion and always stops it. ``lsh_ingest`` and
  ``exact_dedup_ingest`` are key-set builders on one index-probe ingest
  (``_index_probe_ingest``); ``submission_ingest`` uses the protocol
  with its own staging and rewrite.
"""

from __future__ import annotations

import bisect
import operator
import os
from collections.abc import Callable, Iterator, Sequence
from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from weather4cast_bigdata_spark.operators.aggregates import gram_matrix_exprs

_DURATION_UNIT_MS = {
    "millisecond": 1,
    "second": 1000,
    "minute": 60_000,
    "hour": 3_600_000,
    "day": 86_400_000,
    "week": 604_800_000,
}


def _duration_ms(spec: str) -> int:
    """Parse a CalendarInterval-style duration ("24 hours", "15 minutes")
    into milliseconds — the unit ``GroupState.setTimeoutTimestamp``
    expects."""
    amount_str, unit = spec.strip().split()
    unit = unit.rstrip("s").lower()
    if unit not in _DURATION_UNIT_MS:
        raise ValueError(f"unsupported duration unit in {spec!r}")
    return int(float(amount_str) * _DURATION_UNIT_MS[unit])


def frame_stream(
    spark: SparkSession, path: str, schema: StructType, fmt: str = "parquet"
) -> DataFrame:
    """File-arrival source over the decoded frame lake (one new file
    per cadence tick ≈ the reference's scan loop)."""
    return (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", 32)
        .load(path)
    )


def sliding_sequence_windows(
    stream: DataFrame,
    keys: Sequence[str] = ("region",),
    ts_col: str = "ts",
    span: str = "9 hours",
    slide: str = "15 minutes",
    watermark: str = "24 hours",
    value_col: str = "value",
) -> DataFrame:
    """Sliding sequence windows: each window is one candidate
    4+32-frame sequence (36 × 15 min = 9 h, datasets.py:16,173);
    emits per-(key, window) frame counts so completeness
    (= filter_valid_sequence) is a downstream filter ``n_frames ==
    expected``. Late frames up to the watermark still land in their
    window — the streaming form of the previous-day fallback."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*keys, F.window(ts_col, span, slide).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.avg(value_col).alias("mean_value"),
        )
    )


def running_gram_stats(
    stream: DataFrame,
    pred_cols: Sequence[str],
    truth_col: str,
    ts_col: str = "ts",
    watermark: str = "24 hours",
) -> DataFrame:
    """Update-mode running Gram statistics — the incremental
    ``(k·A + A_batch)/(k+1)`` mean (ensemble.py:26-41) expressed as
    Spark's native partial+final streaming aggregation."""
    return stream.withWatermark(ts_col, watermark).groupBy().agg(
        *gram_matrix_exprs(pred_cols, truth_col),
        F.count(F.lit(1)).alias("n_rows"),
    )


#: Per-key state of ``_event_time_buffer``: the buffered frames'
#: event times (µs), values and emitted flags, in event-time order.
_BUFFER_STATE = "ts_list array<bigint>, val_list array<double>, em_list array<boolean>"


def _event_time_buffer(
    stream: DataFrame,
    ts_col: str,
    value_col: str,
    size: int,
    min_len: int,
    emit: Callable[[list[float]], object],
    out_ts: str,
    out_name: str,
    out_type: str,
    state_ttl: str,
    watermark: str,
) -> DataFrame:
    """Per-region rolling buffer of the last ``size`` frames in
    event-time order. For every buffered frame whose window (the up to
    ``size`` frames ending at it) holds at least ``min_len`` frames,
    emits one ``(region, out_ts, out_name)`` row: the frame's event
    time and ``emit(window)``, of SQL type ``out_type``.

    - A late frame inside the watermark is inserted at its event-time
      position, so windows are always time-ordered and never follow
      arrival order.
    - An interior insert (a gap fill) can complete windows ending at
      frames already buffered, so every not-yet-emitted frame from the
      insert point on is checked, not just the arriving one.
    - Emission is append-only and first-wins: a window emitted before a
      later interior fill is not retracted. Each frame's emitted flag
      lives in the state beside it.
    - The buffer is trimmed to ``size`` frames after every insert, so
      state per key is bounded.

    State expires on an EVENT-time timeout, ``state_ttl`` past the
    newest buffered frame. With a processing-time timeout the engine
    keeps scheduling timeout-check batches on the wall clock, so an
    availableNow drain over a finite lake would never finish; an
    event-time timeout is driven by the watermark and lets it stop.
    """
    ttl_ms = _duration_ms(state_ttl)
    out_cols = ["region", out_ts, out_name]

    def step(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        ts_list, val_list, em_list = (
            map(list, state.get) if state.exists else ([], [], [])
        )
        rows = []
        for pdf in pdfs:
            for r in pdf.sort_values(ts_col).itertuples(index=False):
                ts_us = int(pd.Timestamp(getattr(r, ts_col)).value // 1000)
                idx = bisect.bisect_left(ts_list, ts_us)
                ts_list.insert(idx, ts_us)
                val_list.insert(idx, float(getattr(r, value_col)))
                em_list.insert(idx, False)
                for j in range(max(idx, min_len - 1), len(ts_list)):
                    if not em_list[j]:
                        window = val_list[max(0, j + 1 - size) : j + 1]
                        end = pd.Timestamp(ts_list[j] * 1000)
                        rows.append((key[0], end, emit(window)))
                        em_list[j] = True
                if len(ts_list) > size:
                    drop = len(ts_list) - size
                    del ts_list[:drop], val_list[:drop], em_list[:drop]
        state.update((ts_list, val_list, em_list))
        if ts_list:
            state.setTimeoutTimestamp(ts_list[-1] // 1000 + ttl_ms)
        if rows:
            yield pd.DataFrame(rows, columns=out_cols)

    return stream.withWatermark(ts_col, watermark).groupBy(
        "region"
    ).applyInPandasWithState(
        step,
        outputStructType=f"region string, {out_ts} timestamp, {out_name} {out_type}",
        stateStructType=_BUFFER_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stateful_sequence_assembly(
    stream: DataFrame,
    n_past: int = 4,
    ts_col: str = "ts",
    value_col: str = "mean_value",
    state_ttl: str = "24 hours",
    watermark: str = "24 hours",
) -> DataFrame:
    """Per-region predictor windows, the streaming twin of
    ``window_past_sequence``: every frame that completes an
    ``n_past``-frame event-time window emits that window as
    ``seq_values``, ending at ``seq_end_ts``. An event-time buffer with
    ``size = min_len = n_past``; the default TTL matches the
    previous-day fallback tolerance (datasets.py:430-435).

    Expects a pre-aggregated per-(region, ts) frame stream (one row
    per frame), e.g. ``groupBy(region, ts).agg(avg(value))``.
    """
    return _event_time_buffer(
        stream, ts_col, value_col, n_past, n_past, list,
        "seq_end_ts", "seq_values", "array<double>", state_ttl, watermark,
    )


def ewma_stream(
    stream: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.5,
    lookback: int = 8,
    watermark: str = "24 hours",
    state_ttl: str = "48 hours",
) -> DataFrame:
    """Streaming EWMA per region, the live twin of
    ``operators.windows.ewma``: every frame emits ``raw_ewma``, the
    exponentially weighted average of the last ``lookback`` frames in
    event-time order, head renormalized over the available prefix. An
    event-time buffer with ``size = lookback`` and ``min_len = 1``.

    The sum runs k = 0, 1, … from the newest frame, term for term as
    the batch lag chain accumulates, so an in-order drain is
    bit-identical to the batch SQL before the shared 6-decimal round.
    """

    def ewma(window: list[float]) -> float:
        num, den = 0.0, 0.0
        for k, v in enumerate(reversed(window)):
            w = alpha**k
            num += v * w
            den += w
        return num / den

    return _event_time_buffer(
        stream, ts_col, value_col, lookback, 1, ewma,
        "ts", "raw_ewma", "double", state_ttl, watermark,
    )


def session_windows(
    stream: DataFrame,
    keys: Sequence[str] = ("region",),
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "24 hours",
    value_col: str = "value",
) -> DataFrame:
    """Event-time session windows: frames closer than ``gap`` merge
    into one session per key (``F.session_window`` — state merges
    adjacent sessions as late frames arrive, bounded by the
    watermark). The native streaming twin of the batch
    ``operators.windows.sessionize`` lag+cumsum form: a cadence gap >
    ``gap`` (a dropped satellite feed) closes the session, so session
    count per key is an outage monitor for the 15-min stream
    (datasets.py:175)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*keys, F.session_window(ts_col, gap).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.avg(value_col).alias("mean_value"),
        )
    )


def dedup_within_watermark(
    stream: DataFrame,
    keys: Sequence[str] = ("region", "ts"),
    ts_col: str = "ts",
    watermark: str = "24 hours",
) -> DataFrame:
    """Idempotent ingest: drop re-delivered frames by key, keeping
    state only within the watermark (``dropDuplicatesWithinWatermark``
    — state is bounded by watermark horizon × key cardinality, unlike
    an unbounded ``dropDuplicates``). The streaming guard for the
    at-least-once file sources the reference's scan loop retries
    (``datasets.py:86-89,430-435``): a replayed satellite frame must
    not double-count in downstream windows or Gram statistics."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def enrich_with_static(
    stream: DataFrame, static: DataFrame, on: str | Sequence[str]
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against
    the broadcast dim snapshot — the standard pattern for attaching
    slowly-changing metadata (region weights, channel calibration,
    source tiers) to a live stream. Stateless: no streaming state, no
    watermark requirement (the static side is re-resolved per batch,
    so a dim refresh is picked up at the next trigger). The broadcast
    hint keeps every batch shuffle-free — the stream side never
    exchanges."""
    return stream.join(F.broadcast(static), on=on, how="inner")


def drain(writer: DataStreamWriter) -> None:
    """Run ``writer`` as an availableNow query over everything
    currently in its source, then stop it.

    ``processAllAvailable`` + ``stop`` instead of ``awaitTermination``:
    a stateful query with a timeout pending never self-terminates under
    availableNow, so a plain ``awaitTermination`` would burn its whole
    timeout budget on every run. A failed micro-batch re-raises from
    ``processAllAvailable``; ``stop`` runs in a ``finally`` so the query
    never outlives the call.
    """
    q = writer.trigger(availableNow=True).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _hadoop_path(sess: SparkSession, path: str) -> tuple:
    """``(FileSystem, Path)`` for ``path`` under the session's Hadoop
    configuration."""
    p = sess._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(sess._jsc.hadoopConfiguration()), p


def _committed(sess: SparkSession, *dirs: str) -> bool:
    """Whether every one of a micro-batch's output ``dirs`` holds its
    ``_SUCCESS`` marker, i.e. the batch is fully committed and a replay
    may skip it. A batch with any output uncommitted runs again."""
    for d in dirs:
        fs, p = _hadoop_path(sess, os.path.join(d, "_SUCCESS"))
        if not fs.exists(p):
            return False
    return True


def _index_probe_ingest(
    spark: SparkSession,
    src: str,
    schema: StructType,
    index_dir: str,
    matches_dir: str,
    ckpt_dir: str,
    build: Callable[[DataFrame], tuple[DataFrame, DataFrame]],
    key_cols: Sequence[str],
    id_col: str,
) -> None:
    """Incremental self-join of a document stream through a persisted
    key index. ``build(batch_df)`` returns the batch's index rows
    (``key_cols`` plus ``id_col``) and its within-batch pairs
    (``id_a``, ``id_b``). Each micro-batch N then

    (a) probes, on ``key_cols``, the index shards of EARLIER batches
        only (``index_dir/batch_id=K``, K < N). A replay therefore
        probes neither its own half-written keys nor the shards of
        batches that ran after it, whose pairs with this batch are
        already in their own matches;
    (b) writes the distinct union of both pair sets, cross pairs as
        (least, greatest) ids, to ``matches_dir/batch_id=N``;
    (c) only then writes its keys as ``index_dir/batch_id=N``.

    The drained pair set is BATCH-INVARIANT: a pair is found within a
    batch or through the probe, whichever arrival order produced, so
    it equals the one-shot self-join however arrivals were chunked.
    Per batch the cost is the batch's own keys plus an equi-probe of
    matching index keys; the accumulated corpus is never re-scanned.

    Exactly-once under at-least-once replay: both writes overwrite
    ``batch_id=N`` paths, and a batch is skipped only when both are
    committed. Prior shards are listed and read directly, never by
    swallowing a failed read, so a corrupt shard fails the batch
    instead of silently dropping cross-batch pairs. The keys are
    persisted for the probe and both writes and released in a
    ``finally``, so a failed batch does not leak its cached frame.
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        shard = f"batch_id={batch_id}"
        out_matches = os.path.join(matches_dir, shard)
        out_index = os.path.join(index_dir, shard)
        if _committed(sess, out_matches, out_index):
            return
        keys, matches = build(batch_df)
        keys = keys.persist()
        try:
            fs, glob = _hadoop_path(sess, os.path.join(index_dir, "batch_id=*"))
            prior = [
                st.getPath().toString()
                for st in fs.globStatus(glob) or []
                if int(st.getPath().getName().split("=", 1)[1]) < batch_id
            ]
            if prior:
                n, o = F.col(f"n.{id_col}"), F.col(f"o.{id_col}")
                cross = (
                    keys.alias("n")
                    .join(sess.read.parquet(*prior).alias("o"), on=list(key_cols))
                    .select(
                        F.least(n, o).alias("id_a"), F.greatest(n, o).alias("id_b")
                    )
                    .where(F.col("id_a") != F.col("id_b"))
                )
                matches = matches.unionByName(cross)
            matches.distinct().write.mode("overwrite").parquet(out_matches)
            keys.write.mode("overwrite").parquet(out_index)
        finally:
            keys.unpersist()

    drain(
        frame_stream(spark, src, schema)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt_dir)
    )


def lsh_ingest(
    spark: SparkSession,
    src: str,
    schema: StructType,
    index_dir: str,
    matches_dir: str,
    ckpt_dir: str,
) -> None:
    """Incremental near-dup ingest, the live form of
    ``sink_lsh_index``: documents arrive in micro-batches and are
    paired through a persisted MinHash band index. The index rows are
    the batch's ``(doc_id, band_idx, band_key)`` bands, probed on
    ``(band_idx, band_key)``; the within-batch pairs are
    ``lsh_candidate_pairs`` of the batch. The drained pair set equals
    the one-shot batch LSH join (see ``_index_probe_ingest``)."""
    from weather4cast_bigdata_spark.operators import dedup

    def build(batch_df: DataFrame) -> tuple[DataFrame, DataFrame]:
        sig = dedup.minhash_signatures_docs(batch_df)
        return dedup.banded_signatures(sig), dedup.lsh_candidate_pairs(sig)

    _index_probe_ingest(
        spark, src, schema, index_dir, matches_dir, ckpt_dir,
        build, ("band_idx", "band_key"), "doc_id",
    )


def exact_dedup_ingest(
    spark: SparkSession,
    src: str,
    schema: StructType,
    index_dir: str,
    matches_dir: str,
    ckpt_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Incremental EXACT dedup, the md5 twin of :func:`lsh_ingest` and
    the live form of ``sink_exact_dedup_index``: the index rows are the
    batch's ``(text_hash, id)`` pairs, probed on ``text_hash``; the
    within-batch pairs are the batch's own hash self-join. The drained
    pair set equals the one-shot exact self-join (see
    ``_index_probe_ingest``)."""

    def build(batch_df: DataFrame) -> tuple[DataFrame, DataFrame]:
        hashed = batch_df.select(
            F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col)
        )
        x, y = F.col(f"x.{id_col}"), F.col(f"y.{id_col}")
        within = (
            hashed.alias("x")
            .join(hashed.alias("y"), on="text_hash")
            .where(x < y)
            .select(x.alias("id_a"), y.alias("id_b"))
        )
        return hashed, within

    _index_probe_ingest(
        spark, src, schema, index_dir, matches_dir, ckpt_dir,
        build, ("text_hash",), id_col,
    )


def submission_ingest(
    spark: SparkSession,
    src: str,
    schema: StructType,
    staging_dir: str,
    submission_dir: str,
    manifest_dir: str,
    ckpt_dir: str,
    variables: Sequence[str],
    grid: tuple[int, int] = (8, 8),
) -> None:
    """The live form of the competition submit path
    (``sink_submission_h5``): quantized cells arrive in micro-batches
    and the per-(region, day) scorer files (reference
    datasets.py:444-459) are maintained incrementally.

    A (region, day) group can span micro-batches, so a per-batch
    writer alone would publish partial files. Instead each batch
    (a) stages its cells under ``staging_dir/batch_id=N`` partitioned
    by the file axes, then (b) REWRITES the submission files for just
    the groups this batch touched, reading the accumulated staged
    cells for those groups only (partition-pruned — never a full
    corpus re-scan), and (c) records the rewrite's manifest under
    ``manifest_dir/batch_id=N``. After the stream drains, every
    group's file was last rewritten by the final batch that touched
    it, from the complete staged cell set — so the drained file tree
    is BATCH-INVARIANT: byte-identical to the one-shot batch export
    regardless of how arrivals were chunked.

    Exactly-once under at-least-once replay: every write is a
    deterministic overwrite of batch_id-scoped paths or of the
    group's own file, so a replayed batch rewrites identical bytes;
    a batch is skipped only when staging AND manifest are committed.
    """
    from urllib.parse import unquote

    from weather4cast_bigdata_spark.sources import hdf5

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        stage = os.path.join(staging_dir, f"batch_id={batch_id}")
        mani = os.path.join(manifest_dir, f"batch_id={batch_id}")
        if _committed(sess, stage, mani):
            return
        (
            batch_df.write.partitionBy("region", "day")
            .mode("overwrite")
            .parquet(stage)
        )
        # The touched groups are the staged write's own partition
        # directories, listed after it commits, so no second Spark job
        # scans batch_df to learn them. Values round-trip through
        # Spark's partition-path escaping (%-encoded specials; day is a
        # bare int) via unquote.
        fs, stage_path = _hadoop_path(sess, stage)

        def part_dirs(path, col):
            for st in fs.listStatus(path):
                name = st.getPath().getName()
                if st.isDirectory() and name.startswith(f"{col}="):
                    yield st.getPath(), unquote(name[len(col) + 1 :])

        touched = sorted(
            (region, int(day))
            for region_path, region in part_dirs(stage_path, "region")
            for _, day in part_dirs(region_path, "day")
        )
        if not touched:
            # an empty (replay-tail) batch touches no files; commit an
            # empty manifest so the _SUCCESS skip still works
            sess.createDataFrame([], hdf5.MANIFEST_SCHEMA).write.mode(
                "overwrite"
            ).parquet(mani)
            return
        # single-root read of the staging lake: batch_id / region /
        # day all recover as hive partition columns, one listing
        staged = sess.read.parquet(staging_dir).drop("batch_id")
        # equality predicates on partition columns -> partition
        # pruning: only the touched groups' staged files are read
        pred = reduce(
            operator.or_,
            [(F.col("region") == r) & (F.col("day") == d) for r, d in touched],
        )
        manifest = hdf5.write_submission_h5(
            staged.where(pred), submission_dir, list(variables), grid
        )
        manifest.write.mode("overwrite").parquet(mani)

    drain(
        frame_stream(spark, src, schema)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt_dir)
    )


def submission_manifest(spark: SparkSession, manifest_dir: str) -> DataFrame:
    """Final per-file manifest of a drained ``submission_ingest``:
    the LAST rewrite of each (region, day) saw the group's complete
    staged cell set, so per group the highest-batch_id manifest row
    describes the file on disk. Reading the parent dir (not a glob)
    recovers ``batch_id`` as a hive partition column."""
    from pyspark.sql import Window

    rows = spark.read.parquet(manifest_dir)
    w = Window.partitionBy("region", "day").orderBy(F.col("batch_id").desc())
    return (
        rows.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
