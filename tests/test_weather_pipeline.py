"""Weather-cube fixture tests: the semantics the star schema can't
reach (FIXTURES.md §2-3) — sequence validity with gaps, imputation,
day boundaries, quantization round-trip, ridge recovery."""

from __future__ import annotations

import math
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from weather4cast_bigdata_spark.functions import scalar
from weather4cast_bigdata_spark.operators import windows
from weather4cast_bigdata_spark.plans import weather
from weather4cast_bigdata_spark.solve import solve_ridge_sum1
from weather4cast_bigdata_spark.sources import weather_fixtures as wf


@pytest.fixture(scope="module")
def fx(spark):
    return wf.load_fixtures(spark)


@pytest.fixture(scope="module")
def decoded(fx):
    df = weather.decode_normalize(fx["frames"], fx["variable_meta"])
    df.persist()
    df.count()
    yield df
    df.unpersist()


def test_decode_normalize_range(decoded):
    stats = decoded.agg(
        F.min("norm").alias("lo"), F.max("norm").alias("hi"),
        F.sum(F.col("norm").isNull().cast("int")).alias("nulls"),
    ).collect()[0]
    assert 0.0 <= stats["lo"] and stats["hi"] <= 1.0
    assert stats["nulls"] > 0  # fill pixels decoded to NULL


def test_impute_semantics(decoded):
    imp = weather.impute(decoded)
    # No NULLs remain anywhere.
    assert imp.where(F.col("norm").isNull()).count() == 0
    # All-fill temperature frame imputed to constant 0.
    all_fill = imp.where(
        (F.col("variable") == "temperature")
        & (F.col("ts") == F.lit(wf.T0 + wf.ALL_FILL_SLOT * wf.CADENCE))
    )
    vals = {r["norm"] for r in all_fill.select("norm").distinct().collect()}
    assert vals == {0.0}
    # Partial-fill frame: imputed pixels equal the frame's non-fill mean.
    part_dec = decoded.where(
        (F.col("variable") == "temperature")
        & (F.col("ts") == F.lit(wf.T0 + wf.PARTIAL_FILL_SLOT * wf.CADENCE))
        & (F.col("region") == "R1")
    )
    mean_nonfill = part_dec.agg(F.avg("norm")).collect()[0][0]
    part_imp = imp.where(
        (F.col("variable") == "temperature")
        & (F.col("ts") == F.lit(wf.T0 + wf.PARTIAL_FILL_SLOT * wf.CADENCE))
        & (F.col("region") == "R1")
    )
    was_fill = part_dec.where(F.col("norm").isNull()).select("y", "x")
    got = part_imp.join(was_fill, on=["y", "x"]).select("norm").distinct().collect()
    assert len(got) == 1 and abs(got[0]["norm"] - mean_nonfill) < 1e-12


def test_valid_start_times_gapless_count(fx):
    """Gap-free spine keeps n_slots − 35 start times (FIXTURES §3)."""
    starts = weather.valid_start_times(fx["frames"], n_slots=36)
    r1 = starts.where(F.col("region") == "R1").count()
    assert r1 == wf.N_SLOTS - 35
    # R2 has gaps at slots 10-11: the 0..9 run is too short, so valid
    # starts are slots 12..24 only → 13.
    r2 = starts.where(F.col("region") == "R2").count()
    assert r2 == 13


def test_attach_static(fx, decoded):
    out = weather.attach_static(decoded, fx["static_grid"])
    row = out.select("lon_norm", "lat_norm", "elev_norm").agg(
        F.min("lon_norm"), F.max("lon_norm"), F.min("elev_norm"), F.max("elev_norm")
    ).collect()[0]
    assert 0.0 <= row[0] and row[1] <= 1.0
    assert row[2] == 0.0 and row[3] == 1.0  # clamped and max-scaled


def test_attach_static_reads_static_grid_once(spark, fx, decoded, tmp_path):
    """The global elevation max comes from the static grid's own
    branch, so the grid is read once (the scan leaf appears once in
    the optimized plan), and ``elev_norm`` equals
    ``max(e, 0) / max(max(e, 0))`` exactly, negative elevations
    included."""
    path = str(tmp_path / "static")
    fx["static_grid"].write.parquet(path)
    static = spark.read.parquet(path)
    out = weather.attach_static(decoded, static)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"Relation \[[^\]]*\] parquet", plan)) == 1, plan

    pdf = wf.static_grid_pdf()
    assert (pdf["elevation"] < 0).any()
    clamped = pdf["elevation"].clip(lower=0.0)
    want = {
        (r, int(y), int(x)): v
        for r, y, x, v in zip(pdf["region"], pdf["y"], pdf["x"], clamped / clamped.max())
    }
    got = {
        (r["region"], r["y"], r["x"]): r["elev_norm"]
        for r in out.select("region", "y", "x", "elev_norm").distinct().collect()
    }
    assert got and all(got[k] == want[k] for k in got)


def test_ridge_recovers_known_weights(fx):
    w = weather.fit_ensemble_weights_plan(fx["predictions"])
    assert np.allclose(w, wf.TRUE_WEIGHTS, atol=0.02)


def test_ridge_sum1_sums_to_one(fx):
    w = weather.fit_ensemble_weights_plan(fx["predictions"], sum1=True)
    assert abs(w.sum() - 1.0) < 1e-9
    assert np.allclose(w, wf.TRUE_WEIGHTS, atol=0.02)


def test_equal_blend_is_mean(fx):
    """scheme='equal' blend == arithmetic mean (main.py:12-18)."""
    blended = weather.blend_predictions(fx["predictions"], fx["ensemble_weights"], scheme="equal")
    keys = ["region", "ts", "variable", "y", "x"]
    mean = fx["predictions"].groupBy(*keys).agg(F.avg("pred").alias("mean_pred"))
    j = blended.join(mean, on=keys)
    bad = j.where(F.abs(F.col("blend") - F.col("mean_pred")) > 1e-9).count()
    assert bad == 0


def test_blend_evaluate_beats_single_model(fx):
    """Ridge blend MSE < best single model MSE (the point of the
    ensemble, ensemble.py)."""
    blended = weather.blend_predictions(fx["predictions"], fx["ensemble_weights"], scheme="ridge")
    blend_mse = weather.evaluate_blend(blended).collect()[0]["mse"]
    single = (
        fx["predictions"]
        .groupBy("model_id")
        .agg(F.avg(F.pow(F.col("pred") - F.col("truth"), 2)).alias("mse"))
        .agg(F.min("mse"))
        .collect()[0][0]
    )
    assert blend_mse < single


def test_quantize_roundtrip(decoded, fx, tmp_path):
    """normalize → quantize → dequantize within 1/quant_hi
    (FIXTURES §3), via the real partitioned sink."""
    imp = weather.impute(decoded)
    q = weather.quantize_for_submission(imp, fx["variable_meta"])
    path = str(tmp_path / "submission")
    weather.write_submission(q.select("region", "day", "variable", "ts", "y", "x", "norm", "qv"), path)
    back = imp.sparkSession.read.parquet(path)
    meta = fx["variable_meta"].select("variable", "quant_hi")
    j = back.join(F.broadcast(meta), on="variable")
    err = j.select(
        F.max(F.abs(F.col("qv") / F.col("quant_hi") - F.col("norm"))).alias("max_err")
    ).collect()[0]["max_err"]
    assert err <= 0.5 / 255 + 1e-9


def test_day_boundary_in_submission(decoded, fx):
    q = weather.quantize_for_submission(weather.impute(decoded), fx["variable_meta"])
    # Midnight frame (2019-07-24 00:00) must be stamped with day 2019204
    # (July 23), not 2019205.
    midnight = q.where(
        (F.hour("ts") == 0) & (F.minute("ts") == 0)
    ).select("day").distinct().collect()
    assert {r["day"] for r in midnight} == {"2019204"}


def test_normlogit_roundtrip(spark):
    """normlogit ∘ inv_normlogit ≈ id on [0.003, 0.997] (FIXTURES §3)."""
    df = spark.range(1000).select((F.lit(0.003) + F.col("id") * 0.000994).alias("p"))
    back = df.select(
        "p", scalar.inv_normlogit(scalar.normlogit(F.col("p"))).alias("p2")
    )
    bad = back.where(F.abs(F.col("p") - F.col("p2")) > 1e-9).count()
    assert bad == 0


def test_solve_ridge_sum1_numpy():
    rng = np.random.default_rng(0)
    a = rng.uniform(size=(5, 5))
    ata = a @ a.T + np.eye(5)
    aty = rng.uniform(size=5)
    w = solve_ridge_sum1(ata, aty)
    assert abs(w.sum() - 1.0) < 1e-10


def test_region_constants_match_reference(spark):
    """The region catalog carries the reference's exact constants
    (datasets.py:113-127) and the intended roster semantics of the
    missing-return quirk (main.py:48-52)."""
    from weather4cast_bigdata_spark.sources import regions

    assert len(regions.REGION_COORDINATES) == 11
    assert regions.REGION_COORDINATES["R1"] == (1850, 760)
    assert regions.REGION_COORDINATES["R11"] == (1000, 130)
    assert regions.REGION_SIZE == (256, 256)
    assert regions.regions_for_dir("w4c-core-stage-1") == regions.CORE_REGIONS
    assert regions.regions_for_dir("w4c-transfer-learning-stage-1") == regions.TRANSFER_REGIONS
    dim = regions.region_dim(spark)
    assert dim.count() == 11
    assert {r.region for r in dim.collect()} == set(regions.REGION_COORDINATES)


def test_h5_submission_readback_matches_quantized_cells(decoded, fx, tmp_path):
    """Interchange parity (datasets.py:444-459): every (region, day)
    submission file read back must hold exactly the quantized cells at
    (t-rank, channel, y, x) in uint16 — the same values the parquet
    sink (sink_quantized_partitioned) carries, just in the scorer's
    array layout. Runs against the h5 or the npy-fallback format
    transparently."""
    from weather4cast_bigdata_spark.sources import hdf5

    imp = decoded.where(F.col("region") == "R1")
    imp = weather.impute(imp).withColumn("norm", F.least(F.col("norm"), F.lit(1.0)))
    q = weather.quantize_for_submission(imp, fx["variable_meta"])
    variables = ["temperature", "crr_intensity", "asii_turb_trop_prob", "cma"]
    manifest = hdf5.write_submission_h5(
        q.select("region", "day", "variable", "ts", "y", "x", "qv"),
        str(tmp_path / "subh5"),
        variables=variables,
        grid=(wf.H, wf.W),
    ).collect()
    assert manifest, "no submission files written"
    rows = q.select("region", "day", "variable", "ts", "y", "x", "qv").collect()
    by_file = {}
    for r in rows:
        # day is a string stamp in the long layout, int in the manifest
        by_file.setdefault((r["region"], int(r["day"])), []).append(r)
    for m in manifest:
        cells = by_file[(m["region"], m["day"])]
        arr = hdf5.read_submission(m["path"])
        times = sorted({c["ts"] for c in cells})
        assert arr.shape == (len(times), len(variables), wf.H, wf.W)
        assert arr.dtype == np.uint16
        t_idx = {t: i for i, t in enumerate(times)}
        c_idx = {v: i for i, v in enumerate(variables)}
        expected = np.zeros_like(arr)
        for c in cells:
            expected[t_idx[c["ts"]], c_idx[c["variable"]], c["y"], c["x"]] = c["qv"]
        assert np.array_equal(arr, expected)
        assert int(arr.sum(dtype=np.int64)) == m["qv_sum"]
        assert m["n_cells"] == len(cells)


def test_h5_submission_channel_subset_manifest_describes_written_file(
    decoded, fx, tmp_path
):
    """A channel-subset export stores only the requested variables, so
    the manifest's n_cells/qv_sum must aggregate the FILTERED rows —
    read-back checksum equality is the contract, not 'all input rows'."""
    from weather4cast_bigdata_spark.sources import hdf5

    imp = weather.impute(decoded.where(F.col("region") == "R1"))
    imp = imp.withColumn("norm", F.least(F.col("norm"), F.lit(1.0)))
    q = weather.quantize_for_submission(imp, fx["variable_meta"])
    variables = ["temperature", "cma"]  # subset, in contract order
    manifest = hdf5.write_submission_h5(
        q.select("region", "day", "variable", "ts", "y", "x", "qv"),
        str(tmp_path / "subh5_subset"),
        variables=variables,
        grid=(wf.H, wf.W),
    ).collect()
    assert manifest
    for m in manifest:
        arr = hdf5.read_submission(m["path"])
        assert arr.shape[1] == 2
        assert int(arr.sum(dtype=np.int64)) == m["qv_sum"]
    # exact n_cells: count the quantized rows for the kept variables
    kept = q.where(F.col("variable").isin(variables)).count()
    assert sum(m["n_cells"] for m in manifest) == kept
