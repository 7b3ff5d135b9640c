"""M5/M6 surface tests: NetCDF-lake ETL plumbing, batched inference,
multimodal stubs, and the Structured Streaming forms."""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from weather4cast_bigdata_spark.operators import inference, multimodal
from weather4cast_bigdata_spark.sources import netcdf
from weather4cast_bigdata_spark.streaming import pipeline as streaming


# --- NetCDF lake ETL --------------------------------------------------------


@pytest.fixture(scope="module")
def fake_lake(tmp_path_factory):
    root = tmp_path_factory.mktemp("lake")
    for region in ("R1", "R2"):
        for product in ("CTTH", "CRR"):
            d = root / "w4c" / region / "training" / "2019204" / product
            d.mkdir(parents=True, exist_ok=True)
            for hhmm in ("060000", "061500", "063000"):
                name = f"S_NWC_{product}_MSG4_{region}-VISIR_20190723T{hhmm}Z.nc"
                (d / name).write_bytes(os.urandom(256))
    return str(root)


def test_scan_and_decode(spark, fake_lake):
    scanned = netcdf.scan_frame_files(spark, f"{fake_lake}/w4c/*/*/*/*/*.nc")
    rows = scanned.select("region", "subset", "product", "ts").collect()
    assert len(rows) == 12
    assert {r["region"] for r in rows} == {"R1", "R2"}
    assert all(r["ts"].minute in (0, 15, 30) for r in rows)

    decoded = netcdf.decode_frames(
        scanned,
        product_vars={"CTTH": ["temperature"], "CRR": ["crr_intensity"]},
        grid=(8, 8),
    )
    n = decoded.count()
    assert n == 12 * 8 * 8  # one variable per product per file
    # Deterministic decode: same plan twice → identical content hash.
    h = lambda df: df.agg(F.sum(F.hash("region", "variable", "y", "x", "value"))).collect()[0][0]
    assert h(decoded) == h(
        netcdf.decode_frames(
            scanned,
            product_vars={"CTTH": ["temperature"], "CRR": ["crr_intensity"]},
            grid=(8, 8),
        )
    )


def _frame_lake(root, n_times: int = 10) -> str:
    """2 regions x 2 products x ``n_times`` frames: more files than
    Spark's parallel-listing threshold (32 roots)."""
    for region in ("R1", "R2"):
        for product in ("CTTH", "CRR"):
            d = root / "w4c" / region / "training" / "2019204" / product
            d.mkdir(parents=True, exist_ok=True)
            for t in range(n_times):
                hh, mm = divmod(6 * 60 + 15 * t, 60)
                name = f"S_NWC_{product}_MSG4_{region}-VISIR_20190723T{hh:02d}{mm:02d}00Z.nc"
                (d / name).write_bytes(os.urandom(64))
    return str(root)


def _scan_rows(df):
    return sorted(
        tuple(r) for r in df.select("path", "region", "subset", "product", "filename", "ts").collect()
    )


def test_scan_lists_lake_by_directory(spark, tmp_path):
    """``scan_frame_files`` lists the product directories (no Spark
    listing job while the DataFrame is built, even above the 32-root
    parallel-listing threshold) and returns the same rows as a plain
    ``binaryFile`` glob load through the same projection."""
    from weather4cast_bigdata_spark.functions.strings import parse_filename_ts

    lake = _frame_lake(tmp_path)
    glob = f"{lake}/w4c/*/*/*/*/*.nc"
    sc = spark.sparkContext._jsc.sc()

    def last_job_id():
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None).iterator()
        ids = [jobs.next().jobId() for _ in iter(jobs.hasNext, False)]
        return max(ids, default=-1)

    before = last_job_id()
    scanned = netcdf.scan_frame_files(spark, glob)
    assert last_job_id() == before

    name = F.regexp_extract("path", netcdf.FRAME_PATH_RE, 5)
    plain = spark.read.format("binaryFile").load(glob).select(
        F.col("path"),
        F.regexp_extract("path", netcdf.FRAME_PATH_RE, 1).alias("region"),
        F.regexp_extract("path", netcdf.FRAME_PATH_RE, 2).alias("subset"),
        F.regexp_extract("path", netcdf.FRAME_PATH_RE, 4).alias("product"),
        name.alias("filename"),
        parse_filename_ts(name).alias("ts"),
    )
    got = _scan_rows(scanned)
    assert len(got) == 40
    assert got == _scan_rows(plain)


def test_scan_skips_stray_files(spark, tmp_path):
    """A ``README.nc`` in a product directory, a non-``.nc`` file, a
    frame-named file at product-directory depth and a directory named
    ``*.nc`` are skipped: the scan returns exactly the clean lake's
    rows and the valid start times do not change (a ``README.nc``
    once failed the whole scan on its unparseable timestamp)."""
    from weather4cast_bigdata_spark.plans import weather

    clean = _frame_lake(tmp_path / "clean")
    dirty = _frame_lake(tmp_path / "dirty")
    day = os.path.join(dirty, "w4c", "R1", "training", "2019204")
    frame = "S_NWC_CTTH_MSG4_R1-VISIR_20190723T060000Z.nc"
    with open(os.path.join(day, "CTTH", "README.nc"), "w") as f:
        f.write("not a frame")
    with open(os.path.join(day, "CRR", "notes.txt"), "w") as f:
        f.write("not a frame")
    with open(os.path.join(day, frame), "wb") as f:
        f.write(os.urandom(64))
    os.makedirs(os.path.join(day, "CTTH", "extra.nc"))
    with open(os.path.join(day, "CTTH", "extra.nc", frame), "wb") as f:
        f.write(os.urandom(64))

    def scan(lake):
        return netcdf.scan_frame_files(spark, f"{lake}/w4c/*/*/*/*/*.nc")

    def rows(lake):
        return [r[1:] for r in _scan_rows(scan(lake))]

    def starts(lake):
        return sorted(map(tuple, weather.valid_start_times(scan(lake), n_slots=4).collect()))

    assert rows(dirty) == rows(clean)
    assert len(rows(clean)) == 40
    assert starts(dirty) == starts(clean)
    assert len(starts(clean)) == 2 * 7


def test_etl_partitioned_sink(spark, fake_lake, tmp_path):
    scanned = netcdf.scan_frame_files(spark, f"{fake_lake}/w4c/*/*/*/*/*.nc")
    decoded = netcdf.decode_frames(scanned, {"CTTH": ["temperature"]}, grid=(4, 4))
    out = str(tmp_path / "frames")
    netcdf.etl_to_parquet(decoded, out)
    back = spark.read.parquet(out)
    assert back.count() == 6 * 16
    # Hive partitioning restored partition columns; pruning applies.
    assert {"region", "subset", "day", "product"} <= set(back.columns)
    plan = back.where(F.col("region") == "R1")._jdf.queryExecution().executedPlan().toString()
    assert "R1" in plan  # partition filter reached the scan


# --- Inference --------------------------------------------------------------


def test_predict_frames_linear(spark):
    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") * 0.01).alias("f1"),
        (F.col("id") * 0.02).alias("f2"),
    )
    w = np.array([2.0, -1.0])
    out = inference.predict_frames(
        df, ["f1", "f2"], lambda: inference.linear_stub_model(w)
    )
    bad = out.where(
        F.abs(F.col("pred") - (F.col("f1") * 2.0 - F.col("f2"))) > 1e-12
    ).count()
    assert bad == 0


def test_crr_combo_switch(spark):
    rows = [
        ("s1", 0.5, 10.0, 20.0),   # rain in sample s1 (0.5 > 0.026)
        ("s1", 0.0, 11.0, 21.0),
        ("s2", 0.001, 12.0, 22.0),  # no rain in s2
        ("s2", 0.002, 13.0, 23.0),
    ]
    df = spark.createDataFrame(rows, ["sample", "crr_intensity", "wet", "dry"])
    out = inference.crr_combo_switch(df, ["sample"], "wet", "dry").collect()
    got = {(r["sample"], r["pred"]) for r in out}
    assert got == {("s1", 10.0), ("s1", 11.0), ("s2", 22.0), ("s2", 23.0)}


# --- Multimodal -------------------------------------------------------------


def test_image_features_contract(spark):
    rows = [
        (1, "image", b"fakejpegbytes1", "image/jpeg", 640, 480, None),
        (2, "image", b"fakejpegbytes2", "image/jpeg", 800, 600, None),
        (3, "audio", b"fakewav", "audio/wav", None, None, 2000),
    ]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    feats = multimodal.decode_image_features(media, resize_to=(16, 16), n_features=8)
    out = feats.collect()
    assert len(out) == 2  # audio row filtered by the image stage
    for r in out:
        assert len(r["features"]) == 8
        assert 0.0 <= r["mean_luma"] <= 1.0
    # Determinism: content-seeded fake decode.
    again = multimodal.decode_image_features(media, resize_to=(16, 16), n_features=8).collect()
    assert sorted(r["features"] for r in again) == sorted(r["features"] for r in out)


def test_frame_sample_plan(spark):
    rows = [
        (1, "video", b"v1", "video/mp4", None, None, 3500),
        (2, "image", b"i1", "image/png", 10, 10, None),
    ]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    frames = multimodal.frame_sample_plan(media, every_ms=1000).collect()
    assert [r["frame_ms"] for r in frames] == [0, 1000, 2000, 3000]


# --- Streaming --------------------------------------------------------------


@pytest.fixture()
def frame_stream_dir(spark, tmp_path):
    t0 = dt.datetime(2019, 7, 23, 21, 0, 0)
    rows = [
        ("R1", t0 + i * dt.timedelta(minutes=15), float(i))
        for i in range(12)
    ] + [
        ("R2", t0 + i * dt.timedelta(minutes=15), float(100 + i))
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, ["region", "ts", "value"])
    path = str(tmp_path / "stream_in")
    df.coalesce(2).write.parquet(path)
    return path, df.schema


def _run_stream(q_df, name):
    streaming.drain(
        q_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if name.startswith("agg") else "append")
    )


def test_sliding_sequence_windows(spark, frame_stream_dir):
    path, schema = frame_stream_dir
    stream = streaming.frame_stream(spark, path, schema)
    assert stream.isStreaming
    win = streaming.sliding_sequence_windows(
        stream, span="1 hour", slide="15 minutes"
    )
    _run_stream(win, "agg_windows")
    out = spark.sql("SELECT * FROM agg_windows").collect()
    assert out
    # A fully-covered 1h window holds 4 frames — completeness filter.
    full = [r for r in out if r["n_frames"] == 4 and r["region"] == "R1"]
    assert full


def test_running_gram_stats_stream(spark, frame_stream_dir):
    path, schema = frame_stream_dir
    stream = streaming.frame_stream(spark, path, schema).select(
        "ts",
        (F.col("value") / 100.0).alias("p1"),
        (F.col("value") / 200.0).alias("p2"),
        (F.col("value") / 50.0).alias("y"),
    )
    g = streaming.running_gram_stats(stream, ["p1", "p2"], "y")
    _run_stream(g, "agg_gram")
    row = spark.sql("SELECT * FROM agg_gram").collect()[0]
    assert row["n_rows"] == 18
    assert row["ata_0_0"] > 0


def test_stateful_sequence_assembly(spark, frame_stream_dir):
    path, schema = frame_stream_dir
    stream = streaming.frame_stream(spark, path, schema).select(
        "region", "ts", F.col("value").alias("mean_value")
    )
    seqs = streaming.stateful_sequence_assembly(stream, n_past=4)
    _run_stream(seqs, "seq_assembly")
    out = spark.sql("SELECT * FROM seq_assembly").collect()
    by_region = {}
    for r in out:
        by_region.setdefault(r["region"], []).append(r)
    # R1: 12 frames → 9 completed 4-windows; R2: 6 → 3.
    assert len(by_region["R1"]) == 9
    assert len(by_region["R2"]) == 3
    assert all(len(r["seq_values"]) == 4 for r in out)


def test_dedup_within_watermark_drops_replay(spark, tmp_path):
    """A re-delivered (region, ts) frame — the at-least-once file
    source replaying — must reach downstream exactly once."""
    t0 = dt.datetime(2019, 7, 23, 21, 0, 0)
    rows = [("R1", t0 + i * dt.timedelta(minutes=15), float(i)) for i in range(4)]
    dup = [rows[1], rows[2]]  # replayed frames
    df = spark.createDataFrame(rows + dup, ["region", "ts", "value"])
    path = str(tmp_path / "replay_in")
    df.coalesce(1).write.parquet(path)
    stream = streaming.frame_stream(spark, path, df.schema)
    out = streaming.dedup_within_watermark(stream, keys=["region", "ts"])
    _run_stream(out, "append_dedup")
    got = spark.sql("SELECT region, ts, value FROM append_dedup").collect()
    assert len(got) == 4
    assert len({(r.region, r.ts) for r in got}) == 4


def test_session_windows_split_on_gap(spark, tmp_path):
    """A cadence gap larger than the session gap closes the session:
    8 frames with one 45-min hole yield exactly two sessions."""
    t0 = dt.datetime(2019, 7, 23, 21, 0, 0)
    times = [0, 15, 30, 45, 105, 120, 135, 150]  # minutes; 45→105 gap
    rows = [("R1", t0 + dt.timedelta(minutes=m), 1.0) for m in times]
    df = spark.createDataFrame(rows, ["region", "ts", "value"])
    path = str(tmp_path / "gap_in")
    df.coalesce(1).write.parquet(path)
    st = streaming.frame_stream(spark, path, df.schema)
    out = streaming.session_windows(st, gap="30 minutes")
    _run_stream(out, "agg_sessions")
    got = spark.sql("SELECT n_frames FROM agg_sessions ORDER BY n_frames").collect()
    assert [r.n_frames for r in got] == [4, 4]


def test_jsonl_corrupt_line_quarantined(spark, tmp_path):
    """One malformed JSONL line must neither kill the scan nor vanish:
    PERMISSIVE mode lands it in _corrupt_record; clean reads drop it."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from weather4cast_bigdata_spark.sources import jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "good"}\n'
        "THIS IS NOT JSON\n"
        '{"doc_id": 2, "text": "also good"}\n'
    )
    schema = StructType([StructField("doc_id", LongType()), StructField("text", StringType())])
    clean = jsonl.read_jsonl(spark, str(p), schema)
    assert {r.doc_id for r in clean.collect()} == {1, 2}
    kept = jsonl.read_jsonl(spark, str(p), schema, keep_corrupt=True)
    corrupt = [r for r in kept.collect() if r[jsonl.CORRUPT_COL] is not None]
    assert len(corrupt) == 1 and "NOT JSON" in corrupt[0][jsonl.CORRUPT_COL]


def test_csv_roundtrip_quotes_newlines_nulls(spark, tmp_path):
    """write_csv/read_csv must share ONE quoting convention: text with
    embedded double quotes, commas, newlines, an empty string, and a
    true NULL all survive the round-trip bit-exact (no silent
    DROPMALFORMED row loss from a writer/reader escape mismatch)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from weather4cast_bigdata_spark.sources import jsonl

    rows = [
        (1, 'she said "hi, there"'),
        (2, "line one\nline two"),
        (3, ""),
        (4, None),
        (5, 'trailing quote"'),
    ]
    schema = StructType([StructField("doc_id", LongType()), StructField("text", StringType())])
    df = spark.createDataFrame(rows, schema)
    out = str(tmp_path / "docs_csv")
    jsonl.write_csv(df, out)
    back = jsonl.read_csv(spark, out, schema)
    got = {r.doc_id: r.text for r in back.collect()}
    assert got == {r[0]: r[1] for r in rows}


_T0 = dt.datetime(2019, 7, 23, 21, 0, 0)
_M = dt.timedelta(minutes=15)


def _ewma_ref(window, alpha):
    """EWMA of a window, newest frame first (k = 0, 1, ...), summed in
    the batch lag chain's order."""
    num = sum(v * alpha**k for k, v in enumerate(reversed(window)))
    den = sum(alpha**k for k in range(len(window)))
    return num / den


def _buffer_reference(batches, size, min_len, fn):
    """Driver-side restatement of the event-time buffer for one key:
    micro-batches in arrival order, each sorted by event time; every
    arriving frame joins the buffered frames, each not-yet-emitted
    frame whose window (up to ``size`` frames ending at it) holds at
    least ``min_len`` frames emits ``fn(window)``, then only the newest
    ``size`` frames stay buffered."""
    buf, out = [], {}
    for batch in batches:
        for ts, v in sorted(batch):
            buf = sorted(buf + [(ts, v)])
            for j, (t, _) in enumerate(buf):
                window = [x for _, x in buf[max(0, j + 1 - size) : j + 1]]
                if t not in out and len(window) >= min_len:
                    out[t] = fn(window)
            buf = buf[-size:]
    return out


#: Per case: micro-batches of frame offsets i, and the value scale
#: (value = scale * i). ``late`` delivers t2 after t3; ``two_fills``
#: fills t1 and then t3 in two later micro-batches, each completing a
#: window that ends at a frame buffered before it, and runs past the
#: buffer size. Its 0.1 scale makes the t5 EWMA depend on the order of
#: its floating-point sum, so exact equality pins the k = 0, 1, ...
#: accumulation order.
_BUFFER_CASES = {
    "late": ([(0, 1, 3), (2,)], 1.0),
    "two_fills": ([(0, 2, 4), (1,), (3, 5)], 0.1),
}


@pytest.mark.parametrize("case", sorted(_BUFFER_CASES))
@pytest.mark.parametrize("wrapper", ["assembly", "ewma"])
def test_event_time_buffer_late_frames(spark, tmp_path, wrapper, case):
    """Both wrappers of the event-time buffer, fed one file per
    micro-batch so late frames ride later batches: a late frame lands
    at its event-time position (windows are time-ordered and end at
    the right frame), an interior fill completes windows ending at
    frames already buffered, every frame emits at most once and an
    emitted value is never retracted (append-mode emit-once). The
    drained rows equal a driver-side restatement of the buffer."""
    offsets, scale = _BUFFER_CASES[case]
    batches = [[(_T0 + i * _M, scale * i) for i in b] for b in offsets]
    path = str(tmp_path / "buffer_in")
    seen: set[str] = set()
    for k, batch in enumerate(batches):
        spark.createDataFrame(
            [("R1", ts, v) for ts, v in batch], ["region", "ts", "value"]
        ).coalesce(1).write.mode("append").parquet(path)
        # distinct modification times pin the file source's order:
        # one file per micro-batch, in list order
        for f in set(os.listdir(path)) - seen:
            if f.startswith("part-"):
                os.utime(os.path.join(path, f), (1.7e9 + 10 * k,) * 2)
        seen = set(os.listdir(path))
    st = (
        spark.readStream.format("parquet")
        .schema("region string, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .load(path)
    )
    name = f"buffer_{wrapper}_{case}"
    if wrapper == "assembly":
        size, min_len, fn = 4, 4, list
        out = streaming.stateful_sequence_assembly(
            st.withColumnRenamed("value", "mean_value"), n_past=4
        )
        _run_stream(out, name)
        rows = spark.sql(f"SELECT seq_end_ts, seq_values FROM {name}").collect()
    else:
        size, min_len = (8 if case == "late" else 3), 1

        def fn(w):
            return _ewma_ref(w, 0.5)

        out = streaming.ewma_stream(st, alpha=0.5, lookback=size)
        _run_stream(out, name)
        rows = spark.sql(f"SELECT ts, raw_ewma FROM {name}").collect()
    got = {r[0]: r[1] for r in rows}
    assert len(got) == len(rows)  # every frame emits at most once
    assert got == _buffer_reference(batches, size, min_len, fn)
    if wrapper == "assembly":
        # any emitted window is in event-time order
        assert all(v == sorted(v) for v in got.values())
    if case == "late" and wrapper == "assembly":
        # the interior t2 fill completes the window ending at the
        # ALREADY-buffered t3 — it must be emitted, not dropped
        assert len(got) == 1
        assert got[_T0 + 3 * _M] == [0.0, 1.0, 2.0, 3.0]
    if case == "late" and wrapper == "ewma":
        assert len(got) == 4  # every frame scored exactly once
        assert got[_T0] == 0.0
        # t3 scored on arrival over {0,1,_,3}: (3 + .5*1 + .25*0)/1.75
        assert abs(got[_T0 + 3 * _M] - 3.5 / 1.75) < 1e-9
        # the late t2 scored at its true position over {0,1,2}
        assert abs(got[_T0 + 2 * _M] - (2 + 0.5 * 1 + 0.25 * 0) / 1.75) < 1e-9
    if case == "two_fills" and wrapper == "assembly":
        # the t1 fill completes t4's window, the t3 fill its own; t4
        # keeps its first window (no retraction), and t5 emits after
        # the buffer has been trimmed
        assert got == {
            _T0 + 4 * _M: [0.1 * i for i in (0, 1, 2, 4)],
            _T0 + 3 * _M: [0.1 * i for i in (0, 1, 2, 3)],
            _T0 + 5 * _M: [0.1 * i for i in (2, 3, 4, 5)],
        }


def test_audio_features_null_row_skipped(spark):
    """A NULL-content / NULL-duration media row is skipped, not a
    stage-killing crash."""
    rows = [
        (1, "audio", b"real bytes", "audio/wav", 0, 0, 1000),
        (2, "audio", None, "audio/wav", 0, 0, None),
    ]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    out = multimodal.decode_audio_features(media).collect()
    assert [r.media_id for r in out] == [1]


class _FakePILImage:
    """Minimal PIL.Image stand-in proving the REAL decode branch:
    open() parses a tiny 'P2h,w:' header + raw bytes; convert/resize
    behave like PIL's API surface used by _image_pixels."""

    def __init__(self, arr):
        self.arr = arr

    @staticmethod
    def open(buf):
        raw = buf.read()
        if not raw.startswith(b"P2"):
            raise OSError("cannot identify image file")
        header, payload = raw.split(b":", 1)
        h, w = (int(x) for x in header[2:].split(b","))
        a = np.frombuffer(payload[: h * w], dtype=np.uint8).reshape(h, w)
        return _FakePILImage(a)

    def convert(self, mode):
        assert mode == "L"
        return self

    def resize(self, size):
        w, h = size
        # nearest-neighbor resize, enough to prove the plumbing
        ys = (np.arange(h) * self.arr.shape[0] // h).clip(0, self.arr.shape[0] - 1)
        xs = (np.arange(w) * self.arr.shape[1] // w).clip(0, self.arr.shape[1] - 1)
        return _FakePILImage(self.arr[np.ix_(ys, xs)])

    def __array__(self, dtype=None, copy=None):
        return self.arr.astype(dtype or np.uint8)


def test_image_pixels_real_pil_branch(monkeypatch):
    """With a codec library present the REAL branch runs: bytes are
    decoded (not hash-faked), grayscale-resized to (h, w); corrupt
    bytes skip (None), never raise."""
    monkeypatch.setattr(multimodal, "Image", _FakePILImage)
    monkeypatch.setattr(multimodal, "HAVE_PIL", True)
    src = np.arange(64, dtype=np.uint8).reshape(8, 8)
    content = b"P28,8:" + src.tobytes()
    px = multimodal._image_pixels(content, 4, 4)
    assert px is not None and px.shape == (4, 4) and px.dtype == np.uint8
    # real decode: pixels come from the payload, not the md5 fake
    assert px[0, 0] == src[0, 0]
    assert not np.array_equal(px, multimodal._fake_pixels(content, 4, 4))
    assert multimodal._image_pixels(b"not an image", 4, 4) is None


class _FakeSoundfile:
    @staticmethod
    def read(buf, dtype="float32"):
        raw = buf.read()
        if not raw.startswith(b"RIFF"):
            raise RuntimeError("File contains data in an unknown format")
        data = np.frombuffer(raw[4:], dtype=np.float32)
        return data.reshape(-1, 2), 16_000  # stereo, to prove downmix


def test_audio_waveform_real_soundfile_branch(monkeypatch):
    monkeypatch.setattr(multimodal, "soundfile", _FakeSoundfile)
    monkeypatch.setattr(multimodal, "HAVE_SOUNDFILE", True)
    stereo = np.array([[1.0, 0.0], [0.5, 0.5], [-1.0, 0.0]], dtype=np.float32)
    content = b"RIFF" + stereo.tobytes()
    wav = multimodal._audio_waveform(content, n_fallback=999)
    assert wav is not None and wav.dtype == np.float32
    # stereo downmixed to mono, length from the DECODED data (not the
    # duration-derived fallback)
    assert wav.shape == (3,)
    np.testing.assert_allclose(wav, [0.5, 0.5, -0.5])
    assert multimodal._audio_waveform(b"garbage", n_fallback=4) is None


# --- incremental LSH ingest (lsh_ingest) ------------------------------------


def _lsh_dirs(tmp_path, tag):
    d = tmp_path / tag
    return (
        str(d / "index"),
        str(d / "matches"),
        str(d / "ckpt"),
    )


@pytest.fixture(scope="module")
def dup_docs(spark):
    """Documents with guaranteed near-dup structure: the sf corpus
    plus exact copies under shifted ids, so the LSH pair set is
    non-empty and known to include every (i, i+10000) pair."""
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    dups = docs.withColumn("doc_id", F.col("doc_id") + F.lit(10000))
    return docs.unionByName(dups)


def _pairs(df):
    return {
        (min(r.id_a, r.id_b), max(r.id_a, r.id_b))
        for r in df.select("id_a", "id_b").collect()
    }


def test_lsh_ingest_batch_invariant(spark, tmp_path, dup_docs):
    """Drained incremental ingest == one-shot batch LSH join, however
    arrivals were chunked (the documented batch-invariance oracle)."""
    from weather4cast_bigdata_spark.operators import dedup

    src = str(tmp_path / "src")
    # >32 files => maxFilesPerTrigger=32 splits the corpus into
    # multiple micro-batches, exercising the cross-batch index probe
    dup_docs.repartition(96).write.parquet(src)
    index_dir, matches_dir, ckpt = _lsh_dirs(tmp_path, "run1")
    streaming.lsh_ingest(
        spark, src, dup_docs.schema, index_dir, matches_dir, ckpt
    )
    got = _pairs(spark.read.parquet(matches_dir))
    want = _pairs(
        dedup.lsh_candidate_pairs(dedup.minhash_signatures_docs(dup_docs))
    )
    assert want, "oracle pair set is empty - fixture broken"
    assert got == want


def test_lsh_ingest_replay_idempotent(spark, tmp_path, dup_docs):
    """A replayed batch (same batch_id, fresh checkpoint) must not
    duplicate bands in the index or pairs in matches: re-running the
    whole ingest against the same output dirs leaves the drained
    result byte-identical (foreachBatch exactly-once pattern)."""
    src = str(tmp_path / "src2")
    dup_docs.repartition(64).write.parquet(src)
    index_dir, matches_dir, ckpt1 = _lsh_dirs(tmp_path, "run2")
    streaming.lsh_ingest(
        spark, src, dup_docs.schema, index_dir, matches_dir, ckpt1
    )
    before_pairs = spark.read.parquet(matches_dir).count()
    before_idx = spark.read.parquet(index_dir).count()
    # fresh checkpoint, same sinks -> every batch replays with the
    # same batch_id sequence; the _SUCCESS guard must skip them all
    ckpt2 = str(tmp_path / "run2" / "ckpt_replay")
    streaming.lsh_ingest(
        spark, src, dup_docs.schema, index_dir, matches_dir, ckpt2
    )
    assert spark.read.parquet(matches_dir).count() == before_pairs
    assert spark.read.parquet(index_dir).count() == before_idx


# --- incremental submission export (submission_ingest) -----------------------


@pytest.fixture(scope="module")
def sub_cells(spark):
    """Quantized submission cells from the seeded weather fixtures —
    the exact input of the batch h5 export (sink_submission_h5)."""
    from weather4cast_bigdata_spark.plans import weather
    from weather4cast_bigdata_spark.sources import weather_fixtures

    fx = dict(weather_fixtures.load_fixtures(spark))
    dec = weather.impute(
        weather.decode_normalize(fx["frames"], fx["variable_meta"])
    )
    dec = dec.withColumn("norm", F.least(F.col("norm"), F.lit(1.0)))
    q = weather.quantize_for_submission(dec, fx["variable_meta"])
    return q.select("region", "day", "variable", "ts", "y", "x", "qv")


_SUB_VARS = ["temperature", "crr_intensity", "asii_turb_trop_prob", "cma"]


def _sub_dirs(tmp_path, tag):
    d = tmp_path / tag
    return (
        str(d / "staging"),
        str(d / "submission"),
        str(d / "manifest"),
        str(d / "ckpt"),
    )


def _file_arrays(sub_dir):
    import glob

    from weather4cast_bigdata_spark.sources import hdf5

    out = {}
    for p in sorted(
        glob.glob(f"{sub_dir}/*/test/*.np*") + glob.glob(f"{sub_dir}/*/test/*.h5")
    ):
        rel = os.path.relpath(p, sub_dir)
        out[rel] = hdf5.read_submission(p)
    return out


def test_submission_ingest_batch_invariant(spark, tmp_path, sub_cells):
    """Drained incremental export == one-shot batch export,
    byte-identical per file, however arrivals were chunked — cells of
    one (region, day) deliberately span every micro-batch."""
    from weather4cast_bigdata_spark.sources import hdf5

    src = str(tmp_path / "src")
    # 96 files, randomly assigned rows -> every (region, day) group
    # spans all three 32-file micro-batches
    sub_cells.repartition(96).write.parquet(src)
    staging, sub_dir, mani, ckpt = _sub_dirs(tmp_path, "run1")
    streaming.submission_ingest(
        spark, src, sub_cells.schema, staging, sub_dir, mani, ckpt, _SUB_VARS
    )
    oneshot_dir = str(tmp_path / "oneshot")
    oneshot = {
        (r["region"], r["day"]): r
        for r in hdf5.write_submission_h5(
            sub_cells, oneshot_dir, variables=_SUB_VARS
        ).collect()
    }
    got, want = _file_arrays(sub_dir), _file_arrays(oneshot_dir)
    assert set(got) == set(want) and want
    for rel in want:
        assert np.array_equal(got[rel], want[rel]), rel
    final = {
        (r["region"], r["day"]): r
        for r in streaming.submission_manifest(spark, mani).collect()
    }
    assert set(final) == set(oneshot)
    for k, r in oneshot.items():
        assert final[k]["n_cells"] == r["n_cells"]
        assert final[k]["qv_sum"] == r["qv_sum"]
        assert final[k]["n_times"] == r["n_times"]


def test_submission_ingest_replay_idempotent(spark, tmp_path, sub_cells):
    """Re-running the drained stream against the same sinks (fresh
    checkpoint => every batch replays with the same batch_id sequence)
    leaves the file tree byte-identical and the manifest unchanged."""
    src = str(tmp_path / "src2")
    sub_cells.repartition(64).write.parquet(src)
    staging, sub_dir, mani, ckpt1 = _sub_dirs(tmp_path, "run2")
    streaming.submission_ingest(
        spark, src, sub_cells.schema, staging, sub_dir, mani, ckpt1, _SUB_VARS
    )
    before = _file_arrays(sub_dir)
    before_mani = sorted(
        map(tuple, streaming.submission_manifest(spark, mani)
            .select("region", "day", "n_cells", "qv_sum").collect())
    )
    ckpt2 = str(tmp_path / "run2" / "ckpt_replay")
    streaming.submission_ingest(
        spark, src, sub_cells.schema, staging, sub_dir, mani, ckpt2, _SUB_VARS
    )
    after = _file_arrays(sub_dir)
    assert set(after) == set(before)
    for rel in before:
        assert np.array_equal(after[rel], before[rel]), rel
    after_mani = sorted(
        map(tuple, streaming.submission_manifest(spark, mani)
            .select("region", "day", "n_cells", "qv_sum").collect())
    )
    assert after_mani == before_mani


def test_submission_ingest_two_staggered_waves(spark, tmp_path, sub_cells):
    """Two SEPARATE drains against the same source/checkpoint (a
    second arrival wave lands after the first drain finished): the
    second run continues the batch_id sequence from the checkpoint,
    re-touched (region, day) groups are rewritten from the FULL
    accumulated staging lake, and submission_manifest's window picks
    the later batch_id per group — final tree byte-identical to the
    one-shot export of the union. Pins the cross-drain half of the
    manifest contract (pipeline.submission_manifest) that the
    single-drain tests never exercise."""
    from weather4cast_bigdata_spark.sources import hdf5

    src = str(tmp_path / "src_waves")
    wave1 = sub_cells.where(F.pmod(F.xxhash64("ts", "y", "x"), F.lit(2)) == 0)
    wave2 = sub_cells.where(F.pmod(F.xxhash64("ts", "y", "x"), F.lit(2)) == 1)
    # every (region, day) group must appear in BOTH waves for the
    # cross-batch rewrite to be exercised
    g1 = {(r["region"], r["day"]) for r in wave1.select("region", "day").distinct().collect()}
    g2 = {(r["region"], r["day"]) for r in wave2.select("region", "day").distinct().collect()}
    assert g1 and g1 == g2
    wave1.repartition(33).write.parquet(src)
    staging, sub_dir, mani, ckpt = _sub_dirs(tmp_path, "waves")
    streaming.submission_ingest(
        spark, src, sub_cells.schema, staging, sub_dir, mani, ckpt, _SUB_VARS
    )
    mani1 = {
        (r["region"], r["day"]): r["batch_id"]
        for r in streaming.submission_manifest(spark, mani).collect()
    }
    # wave 2 arrives as NEW files in the same source; the SAME
    # checkpoint makes the file source pick up only the new files and
    # continue the batch_id sequence
    wave2.repartition(33).write.mode("append").parquet(src)
    streaming.submission_ingest(
        spark, src, sub_cells.schema, staging, sub_dir, mani, ckpt, _SUB_VARS
    )
    final = {
        (r["region"], r["day"]): r["batch_id"]
        for r in streaming.submission_manifest(spark, mani).collect()
    }
    # the window picked the LATER batch_id for every re-touched group
    assert set(final) == set(mani1)
    assert all(final[k] > mani1[k] for k in final)
    # drained tree == one-shot export of the union
    oneshot_dir = str(tmp_path / "oneshot_waves")
    hdf5.write_submission_h5(sub_cells, oneshot_dir, variables=_SUB_VARS).collect()
    got, want = _file_arrays(sub_dir), _file_arrays(oneshot_dir)
    assert set(got) == set(want) and want
    for rel in want:
        assert np.array_equal(got[rel], want[rel]), rel


# --- incremental exact-dedup ingest (exact_dedup_ingest) ---------------------


@pytest.fixture(scope="module")
def exdup_docs(spark):
    """sf corpus plus exact copies under shifted ids: every (i,
    i+10000) pair is an exact duplicate, nothing else is."""
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    dups = docs.withColumn("doc_id", F.col("doc_id") + F.lit(10000))
    return docs.unionByName(dups)


def test_exact_dedup_ingest_batch_invariant(spark, tmp_path, exdup_docs):
    """Drained incremental exact dedup == one-shot md5 self-join,
    however arrivals were chunked (orig and copy usually land in
    different micro-batches, exercising the cross-batch probe)."""
    src = str(tmp_path / "exsrc")
    exdup_docs.repartition(96).write.parquet(src)
    d = tmp_path / "exrun1"
    streaming.exact_dedup_ingest(
        spark, src, exdup_docs.schema,
        str(d / "index"), str(d / "matches"), str(d / "ckpt"),
    )
    got = _pairs(spark.read.parquet(str(d / "matches")))
    one = exdup_docs.select(F.md5("text").alias("h"), "doc_id")
    want = _pairs(
        one.alias("x").join(one.alias("y"), "h")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b")
        )
    )
    assert want and got == want


def test_exact_dedup_ingest_replay_idempotent(spark, tmp_path, exdup_docs):
    src = str(tmp_path / "exsrc2")
    exdup_docs.repartition(64).write.parquet(src)
    d = tmp_path / "exrun2"
    args = (spark, src, exdup_docs.schema,
            str(d / "index"), str(d / "matches"))
    streaming.exact_dedup_ingest(*args, str(d / "ckpt1"))
    before_m = spark.read.parquet(str(d / "matches")).count()
    before_i = spark.read.parquet(str(d / "index")).count()
    streaming.exact_dedup_ingest(*args, str(d / "ckpt_replay"))
    assert spark.read.parquet(str(d / "matches")).count() == before_m
    assert spark.read.parquet(str(d / "index")).count() == before_i


# --- the shared exactly-once protocol ----------------------------------------


def _rows(spark, path):
    """Every row under ``path`` (batch_id recovered as a column),
    sorted, duplicates kept."""
    return sorted(map(tuple, spark.read.parquet(path).collect()))


@pytest.mark.parametrize("ingest", ["lsh_ingest", "exact_dedup_ingest"])
def test_failed_ingest_batch_releases_cached_frame(
    spark, tmp_path, exdup_docs, ingest
):
    """A micro-batch whose matches write fails (``matches_dir`` is a
    regular file) raises out of the drain and leaves nothing in the
    session's cache: the batch's persisted keys are released on the
    failure path too."""
    from pyspark.errors import StreamingQueryException

    src = str(tmp_path / "src")
    exdup_docs.repartition(4).write.parquet(src)
    blocker = tmp_path / "matches"
    blocker.write_text("a regular file, not a directory")
    # start from an empty cache, so the check sees only this ingest
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    with pytest.raises(StreamingQueryException):
        getattr(streaming, ingest)(
            spark, src, exdup_docs.schema, str(tmp_path / "index"),
            str(blocker), str(tmp_path / "ckpt"),
        )
    assert cache.isEmpty()


@pytest.mark.parametrize("ingest", ["lsh_ingest", "exact_dedup_ingest"])
def test_partial_commit_replays_batch(spark, tmp_path, exdup_docs, ingest):
    """Batch 0 committed its matches but not its index (the index
    ``_SUCCESS`` is gone): a re-run with a fresh checkpoint must run
    batch 0 again, and the drained matches and index equal the first
    run's row for row — the rerun probes only earlier batches' index
    shards, so it adds no pair a later batch already emitted."""
    src = str(tmp_path / "src")
    # 64 files -> two 32-file micro-batches, so later shards exist
    exdup_docs.repartition(64).write.parquet(src)
    index_dir, matches_dir = str(tmp_path / "index"), str(tmp_path / "matches")
    run = getattr(streaming, ingest)
    run(spark, src, exdup_docs.schema, index_dir, matches_dir, str(tmp_path / "c1"))
    matches, index = _rows(spark, matches_dir), _rows(spark, index_dir)
    assert len({m[-1] for m in matches}) == 2, "fixture must drain in 2 batches"
    assert len(set(matches)) == len(matches)
    marker = os.path.join(index_dir, "batch_id=0", "_SUCCESS")
    os.remove(marker)
    run(spark, src, exdup_docs.schema, index_dir, matches_dir, str(tmp_path / "c2"))
    assert os.path.exists(marker)  # batch 0 ran again
    assert _rows(spark, matches_dir) == matches
    assert _rows(spark, index_dir) == index


def test_submission_ingest_partial_commit_replays_batch(
    spark, tmp_path, sub_cells
):
    """Batch 0 staged its cells but did not commit its manifest: a
    re-run with a fresh checkpoint must run batch 0 again, and the
    drained files and manifest equal the first run's."""
    src = str(tmp_path / "src")
    sub_cells.repartition(64).write.parquet(src)
    staging, sub_dir, mani, _ = _sub_dirs(tmp_path, "partial")
    args = (spark, src, sub_cells.schema, staging, sub_dir, mani)
    streaming.submission_ingest(*args, str(tmp_path / "c1"), _SUB_VARS)

    def drained():
        rows = streaming.submission_manifest(spark, mani).collect()
        return sorted(map(tuple, rows))

    files, manifest = _file_arrays(sub_dir), drained()
    marker = os.path.join(mani, "batch_id=0", "_SUCCESS")
    os.remove(marker)
    streaming.submission_ingest(*args, str(tmp_path / "c2"), _SUB_VARS)
    assert os.path.exists(marker)  # batch 0 ran again
    assert drained() == manifest
    got = _file_arrays(sub_dir)
    assert set(got) == set(files) and files
    for rel in files:
        assert np.array_equal(got[rel], files[rel]), rel


def test_watermark_boundary_drops_beyond_late_frame(spark, tmp_path):
    """The drop/keep boundary of the 24h-class watermark, pinned
    across TWO triggers (VERDICT r7 item 7): a frame later than the
    watermark allows is DROPPED from the state-bound windowed
    aggregation (its window was already finalized and emitted), while
    the batch twin of the same union corpus retains it. Wave 1
    advances the watermark past window A's end; wave 2 delivers one
    frame INSIDE window A but beyond the watermark plus one fresh
    in-watermark frame. Append mode + checkpoint restart = the
    production replay path."""
    t0 = dt.datetime(2019, 7, 23, 21, 0, 0)
    m = dt.timedelta(minutes=15)
    src = str(tmp_path / "wm_in")
    out = str(tmp_path / "wm_out")
    ckpt = str(tmp_path / "wm_ckpt")
    wave1 = [
        ("R1", t0, 1.0),                       # window A [21:00, 21:15)
        ("R1", t0 + dt.timedelta(minutes=5), 2.0),  # window A
        ("R1", t0 + 4 * m, 3.0),               # [22:00, 22:15)
        ("R1", t0 + 10 * m, 4.0),              # 23:30 -> watermark 22:30
    ]
    df1 = spark.createDataFrame(wave1, ["region", "ts", "value"])
    df1.coalesce(1).write.parquet(src)

    def drain():
        st = streaming.frame_stream(spark, src, df1.schema)
        win = streaming.sliding_sequence_windows(
            st, span="15 minutes", slide="15 minutes", watermark="1 hour"
        ).select("region", "win.start", "win.end", "n_frames")
        streaming.drain(
            win.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
        )

    drain()  # wave 1: watermark advances to 22:30 at batch end
    wave2 = [
        # inside window A but OLDER than the watermark -> must be
        # dropped from the aggregation state (window A already final)
        ("R1", t0 + dt.timedelta(minutes=10), 99.0),
        # fresh frame, advances the watermark past every open window
        ("R1", t0 + 16 * m, 5.0),  # 01:00 next day -> watermark 00:00
    ]
    df2 = spark.createDataFrame(wave2, ["region", "ts", "value"])
    df2.coalesce(1).write.mode("append").parquet(src)
    drain()  # wave 2: late frame filtered, finalized windows emitted

    got = {
        r["start"]: r["n_frames"]
        for r in spark.read.parquet(out).collect()
    }
    # window A was finalized with its two in-watermark frames; the
    # beyond-watermark frame did NOT resurrect or grow it
    assert got[t0] == 2
    # the 22:00 and 23:30 windows finalized with their single frames
    assert got[t0 + 4 * m] == 1 and got[t0 + 10 * m] == 1
    assert list(got.values()).count(2) == 1
    # the batch twin over the SAME union corpus retains the late
    # frame — the documented batch/streaming divergence at the
    # watermark boundary
    batch = (
        spark.read.parquet(src)
        .groupBy("region", F.window("ts", "15 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_frames"))
        .where(F.col("win.start") == t0)
        .collect()
    )
    assert batch[0]["n_frames"] == 3
