"""Driver-facing query registry: SURVEY.md §2 operator IDs → runnable
(Spark query, DuckDB oracle SQL) pairs on the star-schema testdata.

Each entry demonstrates one engine operator bound to the driver's
tables. The Spark side calls the library operators
(``weather4cast_bigdata_spark.functions`` / ``.operators``); the
oracle is independent ANSI SQL. Column names and rounding are aligned
on both sides because the driver's compare hashes values after
sorting columns by name.

Numeric policy (load-bearing — Spark rounds doubles via
shortest-decimal-repr HALF_UP while DuckDB nudges toward the intended
decimal, so they disagree whenever a computed double sits an ulp off
a decimal tie):

1. Per-row pure arithmetic (+,-,*,/ on identical inputs) is emitted
   RAW — IEEE ops are deterministic, both engines produce
   bit-identical doubles, no rounding needed.
2. Quantization to integers uses ``floor(x + 0.5)`` on both sides —
   pure IEEE, no engine-specific round.
3. Order-dependent aggregates (sum/avg/corr) and transcendentals
   (ln/exp, which differ by ulps between JVM and libm) are rounded
   WITH a tie-breaking epsilon: ``round(x + 1e-9, 6)`` /
   ``round(x + 1e-12, 9)``. The epsilon dwarfs cross-engine ulp
   noise but is invisible at the rounded precision, so exact decimal
   ties (e.g. sum/32 of 2-decimal data terminating in ...5) resolve
   identically in both engines.
   PER-ROW transcendental projections use the 6-decimal form, not the
   9-decimal one: libm-vs-JVM divergence after a few chained ln/exp
   ops reaches ~1e-14, so at 9 decimals a value lands within the
   divergence of a rounding boundary with probability ~1e-5 per row —
   empirically one mismatched row per ~600k at sf0.1. At 6 decimals
   the collision probability drops to ~1e-8 per row. One-row
   aggregate outputs keep 9 decimals (their output cardinality makes
   a collision vanishingly unlikely, and the extra precision is
   checked for free).
4. round() directly on RAW parquet doubles (2-decimal money) is fine:
   the canonical parse is what both engines see.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from weather4cast_bigdata_spark.functions import scalar, strings, text
from weather4cast_bigdata_spark.operators import (
    aggregates,
    dedup,
    joins,
    setops,
    similarity,
    windows,
)
from weather4cast_bigdata_spark.plans.registry_oracles import (  # noqa: F401
    ORACLES,
    SLOT_SQL,
    _COSINE_SQL,
    _H32_SQL,
    _H64_SQL,
    _ORDER_COLS,
    _QUALITY_SQL,
    _SHINGLES_SQL,
    _TOKS_SQL,
)
from weather4cast_bigdata_spark.sources.catalog import load_table, table_rows


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str


REGISTRY: dict[str, QueryDef] = {}


def qdef(name: str, oracle: str | None = None):
    def deco(fn):
        # a silent overwrite would drop a query (and its oracle
        # coverage) from the driver gate with every test still green
        assert name not in REGISTRY, f"duplicate registry query name: {name}"
        # registry.py's own oracles live in registry_oracles.ORACLES
        # (keyed by name); sibling registries pass theirs explicitly
        sql = oracle if oracle is not None else ORACLES.get(name)
        REGISTRY[name] = QueryDef(name, fn, sql, (fn.__doc__ or "").strip())
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


_SCRATCH_ROOT: list[str] = []


def scratch_dir(name: str) -> str:
    """Per-invocation scratch dir under one process-scoped root that
    is removed at interpreter exit — sink queries get isolated output
    paths (a shared path would invalidate the file listing of
    DataFrames returned by earlier calls) without leaking a /tmp
    directory per invocation across the session."""
    import atexit
    import shutil
    import tempfile

    if not _SCRATCH_ROOT:
        root = tempfile.mkdtemp(prefix="w4c_scratch_")
        _SCRATCH_ROOT.append(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    d = tempfile.mkdtemp(prefix=f"{name}_", dir=_SCRATCH_ROOT[0])
    return d


# DuckDB 15-min slot expression (naive timestamp, matches Spark's
# unix_timestamp floor with session tz = UTC).
# Tie-breaking epsilons (see module docstring, numeric policy #3).
EPS6 = 1e-9
EPS9 = 1e-12


def r6(col: Column) -> Column:
    """Cross-engine-stable 6-decimal round for aggregated doubles."""
    return F.round(col + F.lit(EPS6), 6)


def r9(col: Column) -> Column:
    """Cross-engine-stable 9-decimal round for transcendental outputs."""
    return F.round(col + F.lit(EPS9), 9)


# =====================================================================
# §2.1 Scans / sources
# =====================================================================


@qdef(
    "scan_file_index",
    )
def q_scan_file_index(spark, sf_dir):
    """Filename ↔ timestamp codec: build the reference's frame
    filename then parse the stamp back (datasets.py:26-36)."""
    events = _t(spark, sf_dir, "events")
    fname = strings.format_ts_filename(F.col("ts"), "CTTH_MSG4_")
    return events.select(
        "event_id",
        fname.alias("filename"),
        strings.parse_filename_ts(fname).alias("file_ts"),
    )


@qdef(
    "partition_subset_select",
    )
def q_partition_subset_select(spark, sf_dir):
    """Partition-pruned subset selection (datasets.py:233,263-265;
    main.py:48-52): a pure filter Catalyst pushes to the scan."""
    events = _t(spark, sf_dir, "events")
    return events.where(
        (F.col("event_type") == "purchase") & (F.col("ts") >= F.lit("2024-01-10 00:00:00"))
    ).select("event_id", "user_id", "ts", "value")


@qdef(
    "scan_fallback_source",
    )
def q_scan_fallback_source(spark, sf_dir):
    """Primary-source scan with alternate fallback: MSG4→MSG2
    (datasets.py:86-89) as left join + coalesce."""
    events = _t(spark, sf_dir, "events")
    slotted = windows.with_time_slot(events, "ts", 15)

    def chan(t):
        return (
            slotted.where(F.col("event_type") == t)
            .groupBy("user_id", "slot")
            .agg(F.avg("value").alias("value"))
        )

    out = joins.join_fallback(chan("purchase"), chan("click"), on=["user_id", "slot"], value_col="value")
    return out.select("user_id", "slot", r6(F.col("value")).alias("value"))


# =====================================================================
# §2.2 Projections / filters / predicates
# =====================================================================


@qdef(
    "project_minmax_normalize",
    )
def q_project_minmax_normalize(spark, sf_dir):
    """(x-lo)/(hi-lo) → [0,1] (datasets.py:62-64)."""
    events = _t(spark, sf_dir, "events")
    return events.select(
        "event_id",
        scalar.minmax_normalize(F.col("value"), 0.0, 400.0).alias("norm_value"),
    )


@qdef(
    "predicate_fill_detect",
    )
def q_predicate_fill_detect(spark, sf_dir):
    """data == _FillValue mask (datasets.py:61) on the quantized value."""
    events = _t(spark, sf_dir, "events")
    return events.select(
        "event_id",
        scalar.fill_detect(F.round(F.col("value")).cast("int"), 0).alias("is_fill"),
    )


@qdef(
    "impute_mean_nonfill",
    )
def q_impute_mean_nonfill(spark, sf_dir):
    """Fill pixels ← mean of non-fill pixels of the same frame;
    all-fill frame ← 0 (datasets.py:65-69). Frame ≈ event_type,
    fill sentinel ≈ value < 1."""
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    is_fill = F.col("value") < 1.0
    grp = Window.partitionBy("event_type")
    mean_ok = aggregates.mean_nonfill(F.col("value"), is_fill).over(grp)
    imputed = F.when(is_fill, F.coalesce(mean_ok, F.lit(0.0))).otherwise(F.col("value"))
    return events.select("event_id", r6(imputed).alias("imputed"))


@qdef(
    "impute_constant",
    )
def q_impute_constant(spark, sf_dir):
    """Non-temperature fill ← 0.0 (datasets.py:51,70-71): decode fill
    to NULL then coalesce."""
    events = _t(spark, sf_dir, "events")
    nulled = scalar.null_if_fill(F.col("value"), F.col("value") < 1.0)
    return events.select("event_id", scalar.impute_constant(nulled, 0.0).alias("imputed"))


@qdef(
    "project_affine_geo",
    )
def q_project_affine_geo(spark, sf_dir):
    """lon←(lon+76)/152, lat←(lat−23)/63 (datasets.py:142-143)."""
    events = _t(spark, sf_dir, "events")
    return events.select(
        "event_id",
        scalar.affine(F.col("value"), 76.0, 152.0).alias("lon_norm"),
        scalar.affine(F.col("value"), -23.0, 63.0).alias("lat_norm"),
    )


@qdef(
    "project_clamp_scale",
    )
def q_project_clamp_scale(spark, sf_dir):
    """Elevation: clamp negatives to 0, divide by global max
    (datasets.py:148-149). Global max via agg + broadcast cross join
    (never a single-partition window at scale)."""
    events = _t(spark, sf_dir, "events")
    clamped = events.select("event_id", scalar.clamp_nonneg(F.col("value") - 200.0).alias("clamped"))
    gmax = clamped.agg(F.max("clamped").alias("gmax"))
    return clamped.crossJoin(F.broadcast(gmax)).select(
        "event_id", (F.col("clamped") / F.col("gmax")).alias("elev_norm")
    )


@qdef(
    "project_log_clamp",
    )
def q_project_log_clamp(spark, sf_dir):
    """log(max(x, 2e-4)) CRR transform (models.py:104-106,158-161)."""
    events = _t(spark, sf_dir, "events")
    return events.select(
        "event_id",
        r6(scalar.log_clamp(F.col("value") / 400.0)).alias("log_crr"),
    )


@qdef(
    "project_logit",
    )
def q_project_logit(spark, sf_dir):
    """log(x/(1-x)) (ensemble.py:7-8, models.py:289-290); input clipped
    into the open-(0,1) domain as every reference call site does
    before logit (ensemble.py:12)."""
    events = _t(spark, sf_dir, "events")
    x = F.least(F.greatest(F.col("value") / 400.0, F.lit(0.01)), F.lit(0.99))
    return events.select("event_id", r6(scalar.logit(x)).alias("logit_v"))


@qdef(
    "project_normlogit",
    )
def q_project_normlogit(spark, sf_dir):
    """Clip→logit→rescale to [0,1] (ensemble.py:11-15)."""
    events = _t(spark, sf_dir, "events")
    return events.select(
        "event_id",
        r6(scalar.normlogit(F.col("value") / 400.0)).alias("nl"),
    )


@qdef(
    "project_inv_normlogit",
    )
def q_project_inv_normlogit(spark, sf_dir):
    """Sigmoid-based inverse of normlogit (ensemble.py:71-78)."""
    events = _t(spark, sf_dir, "events")
    return events.select(
        "event_id",
        r6(scalar.inv_normlogit(F.col("value") / 400.0)).alias("inl"),
    )


@qdef(
    "project_quantize",
    )
def q_project_quantize(spark, sf_dir):
    """round(x*(hi-lo)+lo) cast int, per-variable constants from a
    broadcast lookup (datasets.py:379-394; u16→int32 per SURVEY §4)."""
    events = _t(spark, sf_dir, "events")
    consts = events.sparkSession.createDataFrame(
        [("click", 0.0, 22000.0), ("view", 0.0, 500.0), ("purchase", 0.0, 100.0),
         ("signup", 0.0, 1.0), ("error", 0.0, 1.0)],
        ["event_type", "lo", "hi"],
    )
    j = joins.join_static_broadcast(events, consts, on=["event_type"])
    qv = F.floor(
        (F.col("value") / 400.0) * (F.col("hi") - F.col("lo")) + F.col("lo") + F.lit(0.5)
    ).cast("int")
    return j.select("event_id", qv.alias("qv"))


@qdef(
    "project_channel_select",
    )
def q_project_channel_select(spark, sf_dir):
    """Restrict to one (product, variable) channel
    (datasets.py:344-346,359-376)."""
    events = _t(spark, sf_dir, "events")
    return events.where(F.col("event_type") == "view").select("event_id", "user_id", "value")


@qdef(
    "conditional_where",
    )
def q_conditional_where(spark, sf_dir):
    """tf.where row-level branch (models.py:271)."""
    events = _t(spark, sf_dir, "events")
    out = scalar.conditional_where(
        F.col("value") > 100.0, F.col("value") * 2.0, F.col("value") / 2.0
    )
    return events.select("event_id", out.alias("branched"))


@qdef(
    "filter_region_membership",
    )
def q_filter_region_membership(spark, sf_dir):
    """Region whitelist filter (main.py:48-52; intended semantics of
    the missing-return quirk, SURVEY §2.2)."""
    events = _t(spark, sf_dir, "events")
    return events.where(F.col("user_id").isin(1, 2, 3, 7, 8)).select(
        "event_id", "user_id", "event_type"
    )


@qdef(
    "filter_valid_sequence",
    )
def q_filter_valid_sequence(spark, sf_dir):
    """Sequence-validity filter: keep start slots with all 4
    consecutive 15-min slots present (datasets.py:39-47). Keyed by
    event_type ≈ (product, region) stream."""
    events = _t(spark, sf_dir, "events")
    slotted = windows.with_time_slot(events, "ts", 15)
    return windows.filter_valid_sequence(slotted, keys=["event_type"], n_slots=4)


@qdef(
    "predicate_rain_event",
    )
def q_predicate_rain_event(spark, sf_dir):
    """ANY(x > threshold) per sample (models.py:268-270)."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        aggregates.bool_any(F.col("value") > 250.0).alias("has_rain")
    )


# =====================================================================
# Flagship (M0)
# =====================================================================

from weather4cast_bigdata_spark.plans.flagship import (  # noqa: E402
    FLAGSHIP_ORACLE_SQL,
    flagship_evaluate,
)

REGISTRY["flagship_evaluate"] = QueryDef(
    "flagship_evaluate",
    flagship_evaluate,
    FLAGSHIP_ORACLE_SQL,
    "Evaluate-analog: per-variable persistence MSE with inverse-variance weights.",
)


# =====================================================================
# §2.3 Joins
# =====================================================================

# Normalized member-model prediction series derived from lineitem
# (keeps Gram/MSE sums O(1) magnitude so 6-decimal rounding is robust
# to summation order at any scale).
def _members(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        (F.col("l_extendedprice") * (1.0 - F.col("l_discount")) / 100000.0).alias("m1"),
        (F.col("l_extendedprice") / 100000.0).alias("m2"),
        (F.col("l_extendedprice") * (1.0 + F.col("l_tax")) / 100000.0).alias("m3"),
        (F.col("l_quantity") / 50.0).alias("y"),
    )


@qdef(
    "join_time_intersect",
    )
def q_join_time_intersect(spark, sf_dir):
    """Valid start times = intersection of per-(product,region) time
    sets (datasets.py:229-240)."""
    events = _t(spark, sf_dir, "events")
    slotted = windows.with_time_slot(events, "ts", 15)
    sets = [
        slotted.where(F.col("event_type") == t).select("slot").distinct()
        for t in ("click", "view", "purchase")
    ]
    return setops.intersect_all_sets(sets)


@qdef(
    "join_multichannel",
    )
def q_join_multichannel(spark, sf_dir):
    """Channel-stack alignment: CTTH+CRR+ASII+CMA → one wide record
    (datasets.py:326-336) via groupBy().pivot() with an explicit
    channel list (single shuffle, no distinct-scan)."""
    events = _t(spark, sf_dir, "events")
    chans = ["click", "view", "purchase", "signup", "error"]
    wide = joins.join_multichannel(
        events.withColumn("day", F.to_date("ts")),
        keys=["user_id", "day"],
        channel_col="event_type",
        value_col="value",
        channels=chans,
    )
    return wide.select("user_id", "day", *[r6(F.col(c)).alias(c) for c in chans])


@qdef(
    "join_static_broadcast",
    )
def q_join_static_broadcast(spark, sf_dir):
    """Static-dimension attach: lat/lon/elev per region
    (datasets.py:328-330,151-162) as broadcast equi joins — the fact
    side never shuffles."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    out = joins.join_static_broadcast(
        li, sup.withColumnRenamed("s_suppkey", "l_suppkey"), on=["l_suppkey"]
    )
    out = joins.join_static_broadcast(
        out, nat.withColumnRenamed("n_nationkey", "s_nationkey"), on=["s_nationkey"]
    )
    out = joins.join_static_broadcast(
        out, reg.withColumnRenamed("r_regionkey", "n_regionkey"), on=["n_regionkey"]
    )
    return out.select(
        "l_orderkey", "l_linenumber", "s_name", "n_name", "r_name",
        F.col("l_extendedprice").alias("price"),
    )


@qdef(
    "join_asof_offset",
    )
def q_join_asof_offset(spark, sf_dir):
    """Degenerate as-of join: align each frame with the frame exactly
    one step later (datasets.py:322-323)."""
    events = _t(spark, sf_dir, "events")
    hourly = (
        events.withColumn("hslot", F.date_trunc("hour", F.col("ts")))
        .groupBy("event_type", "hslot")
        .agg(F.avg("value").alias("value"))
    )
    paired = joins.join_offset(
        hourly, keys=["event_type"], ts_col="hslot",
        offset_expr="INTERVAL 1 HOUR", value_cols=["value"], suffix="_future",
    )
    return paired.select(
        "event_type", "hslot",
        r6(F.col("value")).alias("value"),
        r6(F.col("value_future")).alias("value_future"),
    )


@qdef(
    "join_frame_lookup",
    )
def q_join_frame_lookup(spark, sf_dir):
    """var_at_time keyed lookup (datasets.py:299-301): fetch fact rows
    for an exact dimension key set."""
    part = _t(spark, sf_dir, "part").where(F.col("p_size") == 10)
    li = _t(spark, sf_dir, "lineitem")
    out = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return out.select(
        "l_orderkey", "l_linenumber", "p_name", F.col("l_extendedprice").alias("price")
    )


@qdef(
    "join_ensemble_align",
    )
def q_join_ensemble_align(spark, sf_dir):
    """Zip k member prediction streams by key + Σ wᵢ·predᵢ blending
    (ensemble.py:81-101, main.py:10-33). Key-based equi joins replace
    the reference's positional zip. Members are pre-aggregated to the
    join key (lineitem's (orderkey, linenumber) is not unique; min is
    arithmetic-free so rounding sees bit-identical inputs)."""
    keys = ["l_orderkey", "l_linenumber"]
    m = _members(spark, sf_dir).groupBy(*keys).agg(
        F.min("m1").alias("m1"), F.min("m2").alias("m2"), F.min("m3").alias("m3")
    )
    members = {
        "a": m.select(*keys, F.col("m1").alias("value")),
        "b": m.select(*keys, F.col("m2").alias("value")),
        "c": m.select(*keys, F.col("m3").alias("value")),
    }
    aligned = joins.join_ensemble_align(members, on=keys, value_col="value")
    blended = joins.weighted_blend(aligned, ["pred_a", "pred_b", "pred_c"], [0.5, 0.3, 0.2])
    return blended.select(*keys, "pred_a", "pred_b", "pred_c", "blend")


@qdef(
    "udf_ensemble_blend",
    )
def q_udf_ensemble_blend(spark, sf_dir):
    """Logit-space ensemble blend (the ASII mode): inv_normlogit of
    the weighted normlogit sum (ensemble.py:86-101 logit=True path).
    Pure column arithmetic — not a UDF in Spark."""
    events = _t(spark, sf_dir, "events")
    preds = events.select(
        "event_id",
        (F.col("value") / 400.0).alias("p1"),
        (F.col("value") / 500.0).alias("p2"),
    )
    out = joins.logit_blend(preds, ["p1", "p2"], [0.6, 0.4])
    return out.select("event_id", r6(F.col("blend")).alias("blend"))


@qdef(
    "join_fallback_day",
    )
def q_join_fallback_day(spark, sf_dir):
    """Missing frame → previous day's directory fallback
    (datasets.py:430-435): left join to the day-1 partition +
    coalesce."""
    events = _t(spark, sf_dir, "events")
    daily = (
        events.withColumn("day", F.to_date("ts"))
        .groupBy("user_id", "day")
        .agg(F.avg("value").alias("value"))
    )
    prev = daily.select(
        "user_id", (F.date_add(F.col("day"), 1)).alias("day"), F.col("value").alias("prev_value")
    )
    out = daily.join(prev, on=["user_id", "day"], how="left")
    return out.select(
        "user_id", "day",
        r6(F.coalesce(F.col("value"), F.col("prev_value"))).alias("value"),
    )


# =====================================================================
# §2.4 Aggregations
# =====================================================================


@qdef(
    "agg_mean_nonfill",
    )
def q_agg_mean_nonfill(spark, sf_dir):
    """Mean of non-fill pixels per frame (datasets.py:67)."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        r6(aggregates.mean_nonfill(F.col("value"), F.col("value") < 1.0)).alias("mean_nonfill"),
        F.count(F.lit(1)).alias("n"),
    )


@qdef(
    "agg_global_max",
    )
def q_agg_global_max(spark, sf_dir):
    """Global max (elevation normalization, datasets.py:149)."""
    events = _t(spark, sf_dir, "events")
    return events.agg(
        F.max("value").alias("max_value"),
        F.max("ts").alias("max_ts"),
        F.count(F.lit(1)).alias("n"),
    )


@qdef(
    "agg_bool_any",
    )
def q_agg_bool_any(spark, sf_dir):
    """reduce_any over sample axes (models.py:268-270)."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        aggregates.bool_any(F.col("value") > 300.0).alias("any_extreme")
    )


@qdef(
    "agg_mse",
    )
def q_agg_mse(spark, sf_dir):
    """Per-variable MSE (models.py:316)."""
    m = _members(spark, sf_dir)
    return m.groupBy("l_returnflag").agg(
        r9(aggregates.mse(F.col("m1"), F.col("m2"))).alias("mse")
    )


@qdef(
    "agg_rounded_mse",
    )
def q_agg_rounded_mse(spark, sf_dir):
    """MSE after rounding the prediction — binary cma loss
    (models.py:282-287,322-324)."""
    events = _t(spark, sf_dir, "events")
    truth = F.when(F.col("value") > 200.0, 1).otherwise(0)
    return events.groupBy("event_type").agg(
        r9(aggregates.rounded_mse(F.col("value") / 400.0, truth)).alias("rmse")
    )


@qdef(
    "agg_normlogit_mse",
    )
def q_agg_normlogit_mse(spark, sf_dir):
    """MSE in normlogit space — asii loss (models.py:293-301,313-316).
    (The logit(lo) offsets cancel in the difference; the oracle uses
    the cancelled form, the Spark side composes normlogit directly.)"""
    events = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        r9(aggregates.normlogit_mse(F.col("value") / 400.0, F.col("value") / 500.0)).alias(
            "nl_mse"
        )
    )


@qdef(
    "agg_weighted_multiloss",
    )
def q_agg_weighted_multiloss(spark, sf_dir):
    """Total loss = Σ w_v·loss_v / n_outputs with a broadcast weight
    dim (models.py:304-318)."""
    events = _t(spark, sf_dir, "events")
    losses = events.groupBy("event_type").agg(
        aggregates.mse(F.col("value") / 400.0, F.col("value") / 500.0).alias("loss")
    )
    weights = spark.createDataFrame(
        [("click", 0.2611), ("view", 1.1241), ("purchase", 2.8800),
         ("signup", 0.1100), ("error", 2.0300)],
        ["event_type", "weight"],
    )
    out = aggregates.weighted_multiloss(losses, "event_type", "loss", weights)
    return out.select(r9(F.col("total_loss")).alias("total_loss"))


@qdef(
    "agg_gram_matrix",
    )
def q_agg_gram_matrix(spark, sf_dir):
    """Normal-equation Gram statistics ATA/ATy for the ridge ensemble
    fit (ensemble.py:18-41): one partial+final hash aggregation with
    programmatically generated product expressions."""
    m = _members(spark, sf_dir)
    g = aggregates.gram_matrix(m, ["m1", "m2", "m3"], "y")
    return g.select(*[r6(F.col(c)).alias(c) for c in g.columns])


@qdef(
    "agg_running_mean",
    )
def q_agg_running_mean(spark, sf_dir):
    """Incremental batch-mean update (k·A + A_batch)/(k+1)
    (ensemble.py:35-36,115-116) as a cumulative window mean over
    batch order."""
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    daily = (
        events.withColumn("day", F.to_date("ts"))
        .groupBy("day")
        .agg(F.avg("value").alias("day_mean"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day",
        r6(F.col("day_mean")).alias("day_mean"),
        r6(F.avg("day_mean").over(w)).alias("running_mean"),
    )


@qdef(
    "agg_correlation_matrix",
    )
def q_agg_correlation_matrix(spark, sf_dir):
    """Pairwise model-output correlation matrix (ensemble.py:103-123)."""
    m = _members(spark, sf_dir)
    c = aggregates.correlation_matrix(m, ["m1", "m2", "m3", "y"])
    return c.select(*[r6(F.col(col)).alias(col) for col in c.columns])


@qdef(
    "agg_count_sequences",
    )
def q_agg_count_sequences(spark, sf_dir):
    """len(generator) = n // batch_size (datasets.py:241-249)."""
    events = _t(spark, sf_dir, "events")
    slotted = windows.with_time_slot(events, "ts", 15)
    return slotted.groupBy("user_id").agg(
        F.count_distinct(F.col("slot")).alias("n_slots"),
        F.floor(F.count_distinct(F.col("slot")) / F.lit(32)).alias("n_batches"),
    )


@qdef(
    "agg_distinct_times",
    )
def q_agg_distinct_times(spark, sf_dir):
    """The time index as a deduplicated set (datasets.py:31-36)."""
    events = _t(spark, sf_dir, "events")
    slots = windows.with_time_slot(events, "ts", 15).select("slot").distinct()
    return slots.agg(
        F.count(F.lit(1)).alias("n_distinct"),
        F.min("slot").alias("first_slot"),
        F.max("slot").alias("last_slot"),
    )


# =====================================================================
# §2.5 Windows / time series
# =====================================================================

def _hourly(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    return (
        events.withColumn("hslot", F.date_trunc("hour", F.col("ts")))
        .groupBy("event_type", "hslot")
        .agg(r6(F.avg("value")).alias("value"))
    )


@qdef(
    "window_past_sequence",
    )
def q_window_past_sequence(spark, sf_dir):
    """4-frame predictor window: current + 3 preceding frames per
    stream (datasets.py:303-347, sequence_length datasets.py:16)."""
    return windows.past_sequence(
        _hourly(spark, sf_dir), keys=["event_type"], ts_col="hslot",
        value_col="value", n_past=4,
    )


@qdef(
    "window_future_horizon",
    )
def q_window_future_horizon(spark, sf_dir):
    """Target horizon: following frames per stream
    (datasets.py:322-337)."""
    return windows.future_horizon(
        _hourly(spark, sf_dir), keys=["event_type"], ts_col="hslot",
        value_col="value", n_future=4,
    )


@qdef(
    "interval_arith",
    )
def q_interval_arith(spark, sf_dir):
    """t + i·15 min cadence stepping (datasets.py:323,337,423)."""
    events = _t(spark, sf_dir, "events")
    slotted = windows.with_time_slot(events, "ts", 15).select("slot").distinct()
    return slotted.select(
        "slot",
        *[
            (F.col("slot") + F.expr(f"INTERVAL {15 * i} MINUTES")).alias(f"slot_p{i}")
            for i in (1, 2, 3)
        ],
    )


@qdef(
    "window_prev_day_fallback",
    )
def q_window_prev_day_fallback(spark, sf_dir):
    """Use the most recent prior day's frame when today's is missing
    (datasets.py:430-435): date-spine left join + last(ignorenulls).
    The spine is generated, so gaps of any length carry forward."""
    events = _t(spark, sf_dir, "events")
    spine_days = events.sparkSession.range(1).select(
        F.explode(
            F.sequence(
                F.to_date(F.lit("2024-01-01")),
                F.to_date(F.lit("2024-01-30")),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    users = events.select("user_id").distinct()
    daily = (
        events.withColumn("day", F.to_date("ts"))
        .groupBy("user_id", "day")
        .agg(r6(F.avg("value")).alias("value"))
    )
    spine = spine_days.crossJoin(users)
    joined = spine.join(daily, on=["user_id", "day"], how="left")
    out = windows.prev_value_fallback(
        joined, keys=["user_id"], order_col="day", value_col="value", out_col="value_filled"
    )
    return out.select("user_id", "day", "value_filled")


@qdef(
    "day_boundary_correct",
    )
def q_day_boundary_correct(spark, sf_dir):
    """Midnight start times stamped with the previous day's %Y%j dir
    (datasets.py:450-454)."""
    events = _t(spark, sf_dir, "events")
    slots = windows.with_time_slot(events, "ts", 15).select("slot").distinct()
    return windows.day_boundary_correct(slots, "slot")


@qdef(
    "argmin_checkpoint",
    )
def q_argmin_checkpoint(spark, sf_dir):
    """Best-checkpoint pattern: keep the row with minimum loss per key
    (models.py:453-470), deterministic tie-break on id."""
    events = _t(spark, sf_dir, "events")
    best = windows.argmin_best(events, keys=["user_id"], order_cols=["value", "event_id"])
    return best.select(
        "user_id", F.col("event_id").alias("best_event"), F.col("value").alias("best_value")
    )


# =====================================================================
# §2.6 Sorts / set ops / sampling
# =====================================================================


@qdef(
    "sort_time",
    )
def q_sort_time(spark, sf_dir):
    """Sorted valid start times (datasets.py:47,238-240)."""
    events = _t(spark, sf_dir, "events")
    return setops.distinct_sorted(windows.with_time_slot(events, "ts", 15), ["slot"])


@qdef(
    "set_intersect",
    )
def q_set_intersect(spark, sf_dir):
    """set.intersection over entity sets (datasets.py:238-240)."""
    events = _t(spark, sf_dir, "events")
    return setops.intersect_all_sets(
        [
            events.where(F.col("event_type") == "purchase").select("user_id"),
            events.where(F.col("event_type") == "error").select("user_id"),
        ]
    )


@qdef(
    "set_distinct",
    )
def q_set_distinct(spark, sf_dir):
    """Index dedup (datasets.py:31-36)."""
    events = _t(spark, sf_dir, "events")
    return events.select("user_id", "event_type").distinct()


@qdef("shuffle_seeded")  # rows-only: permutation order is engine-specific
def q_shuffle_seeded(spark, sf_dir):
    """Seeded epoch shuffle (datasets.py:245,251-254): deterministic
    within Spark for a fixed partitioning; no cross-engine oracle
    (row order is the semantics, hashes can't agree)."""
    events = _t(spark, sf_dir, "events")
    return setops.seeded_shuffle(events.select("event_id", "user_id"), seed=42)


@qdef(
    "sample_random_crop",
    )
def q_sample_random_crop(spark, sf_dir):
    """Random 2-D crop box per batch (datasets.py:271-276): a seeded
    box filter on grid coordinates. The crop origin derives from an
    md5 counter-based draw instead of engine RNG — same
    deterministic-per-seed semantics as the reference's seeded
    np.random crop, but reproducible across engines, so the query is
    hash-verifiable (and, at scale, every worker agrees on the box
    without a broadcast RNG state)."""
    from weather4cast_bigdata_spark.functions.text import md5_hash32

    events = _t(spark, sf_dir, "events")
    grid = events.select(
        "event_id",
        (F.col("event_id") % 16).alias("y"),
        ((F.col("event_id") / 16).cast("bigint") % 16).alias("x"),
        "value",
    )
    y0 = md5_hash32(F.lit("crop_y_42")) % 8
    x0 = md5_hash32(F.lit("crop_x_42")) % 8
    return grid.where(
        (F.col("y") >= y0) & (F.col("y") < y0 + 8)
        & (F.col("x") >= x0) & (F.col("x") < x0 + 8)
    ).select("event_id", "y", "x", "value")


@qdef(
    "sample_augment",
    )
def q_sample_augment(spark, sf_dir):
    """Rot90/flip augmentation (datasets.py:278-297) as pure
    coordinate-remap projections on the long layout — no data
    movement, just key arithmetic. rot90 is np.rot90 k=1
    (counterclockwise): (y, x) → (N−1−x, y); k=2,3 are
    compositions."""
    events = _t(spark, sf_dir, "events")
    y = F.col("event_id") % 16
    x = (F.col("event_id") / 16).cast("bigint") % 16
    return events.select(
        "event_id",
        y.alias("y"), x.alias("x"),
        (F.lit(15) - y).alias("y_flipud"),
        (F.lit(15) - x).alias("x_fliplr"),
        (F.lit(15) - x).alias("rot90_y"),
        y.alias("rot90_x"),
    )


# =====================================================================
# §2.7 Array / string functions
# =====================================================================


@qdef(
    "array_slice_2d",
    )
def q_array_slice_2d(spark, sf_dir):
    """2-D crop data[i0:i1, j0:j1] (datasets.py:102,161) as a (y,x)
    range filter on the long layout — pushes to the scan."""
    events = _t(spark, sf_dir, "events")
    y = F.col("event_id") % 16
    x = (F.col("event_id") / 16).cast("bigint") % 16
    return events.select("event_id", y.alias("y"), x.alias("x"), "value").where(
        y.between(4, 11) & x.between(2, 9)
    )


@qdef(
    "array_stack_channels",
    )
def q_array_stack_channels(spark, sf_dir):
    """np.stack(channel_data, axis=-1) (datasets.py:110,162):
    channel-aligned stack, emitted as a quantized string encoding so
    the value-hash is layout-independent across engines."""
    events = _t(spark, sf_dir, "events")
    chans = ["click", "view", "purchase"]
    wide = joins.join_multichannel(
        events.withColumn("day", F.to_date("ts")),
        keys=["user_id", "day"],
        channel_col="event_type",
        value_col="value",
        channels=chans,
    )
    enc = [
        F.coalesce(F.floor(r6(F.col(c)) + F.lit(0.5)).cast("int").cast("string"), F.lit("NA"))
        for c in chans
    ]
    return wide.select("user_id", "day", F.concat_ws("|", *enc).alias("stacked"))


@qdef(
    "array_concat",
    )
def q_array_concat(spark, sf_dir):
    """Channel-axis concat (datasets.py:447, models.py:106) = UNION ALL
    of per-channel streams in the long layout."""
    events = _t(spark, sf_dir, "events")

    def chan(t):
        return events.where(F.col("event_type") == t).select(
            "event_id", F.lit(t).alias("channel"), "value"
        )

    return chan("purchase").unionAll(chan("click"))


@qdef(
    "array_flatten",
    )
def q_array_flatten(spark, sf_dir):
    """.ravel() before Gram products (ensemble.py:28,111-113):
    explode to (id, idx, value) long rows, 1-based."""
    from weather4cast_bigdata_spark.functions.arrays import flatten_to_rows

    emb = _t(spark, sf_dir, "embeddings")
    out = flatten_to_rows(emb, "embedding", ["vec_id"])
    return out.select("vec_id", "idx", F.col("val").cast("double").alias("val"))


@qdef(
    "str_format_path",
    )
def q_str_format_path(spark, sf_dir):
    """Partition-path template comp/region/subset/%Y%j/product
    (datasets.py:256-269)."""
    events = _t(spark, sf_dir, "events")
    region = F.concat(F.lit("R"), F.col("user_id").cast("string"))
    return events.select(
        "event_id",
        strings.format_frame_path("w4c", region, "training", F.col("ts"), F.col("event_type")).alias("path"),
    )


@qdef(
    "str_replace",
    )
def q_str_replace(spark, sf_dir):
    """MSG4→MSG2 alternate-satellite substitution (datasets.py:86-89,431)."""
    events = _t(spark, sf_dir, "events")
    fname = strings.format_ts_filename(F.col("ts"), "CTTH_MSG4_")
    return events.select(
        "event_id", strings.satellite_fallback_name(fname).alias("alt_filename")
    )


@qdef(
    "json_get",
    )
def q_json_get(spark, sf_dir):
    """JSON property extraction over events.props (standard-library
    extension, SURVEY.md §2.7 note)."""
    events = _t(spark, sf_dir, "events")
    # try_cast: a malformed props row yields NULL, not an ANSI cast
    # failure that kills the scan (same result on well-formed data)
    k = F.get_json_object(F.col("props"), "$.k").try_cast("int")
    return events.groupBy((k % 10).alias("k_bucket")).agg(
        F.count(F.lit(1)).alias("n"), r6(F.avg("value")).alias("mean_value")
    )


# =====================================================================
# Training-data-pipeline extensions: dedup / text / similarity
# =====================================================================

# DuckDB twins of functions.text helpers.
# Per-row range — no fixed position cap, so the oracle never silently
# truncates a long document the Spark side processes in full.
@qdef(
    "dedup_exact",
    )
def q_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy keeping min id as canonical. Uniform
    128-bit keys — no skew at any scale."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_duplicates(docs)


@qdef(
    "dedup_minhash_signature",
    )
def q_dedup_minhash_signature(spark, sf_dir):
    """MinHash signatures over word-3-gram shingles: 4 affine
    permutations of an md5-derived 32-bit hash mod 2^31-1. Map-side
    min-combine keeps shuffle volume at 32 B/doc regardless of
    document length."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_signatures_docs(docs)


@qdef(
    "dedup_minhash_lsh",
    )
def q_dedup_minhash_lsh(spark, sf_dir):
    """LSH banding (2 bands × 2 hashes): docs agreeing on any full
    band become candidate pairs. The self-join is bucket-local —
    shuffle on (band, key), pairs form only inside buckets, never an
    n² cross join."""
    docs = _t(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures_docs(docs)
    return dedup.lsh_candidate_pairs(sig)


@qdef(
    "dedup_minhash_recall",
    )
def q_dedup_minhash_recall(spark, sf_dir):
    """MEASURED recall of the MinHash LSH banding (2 bands × 2
    hashes, the dedup_minhash_lsh construction) against the
    brute-force n-gram Jaccard truth on a deterministic sample
    (doc_id % 3): one row of (n_true, n_hit, recall) — the number
    behind the banding's assumed S-curve, 1-(1-s²)² at true Jaccard
    s, the dedup twin of sim_lsh_recall (VERDICT r7 item 6). Truth
    pairs (J ≥ 0.5, the production threshold) come from the exact
    shingle-bucket intersection restricted to the sample side — the
    truth computation is sample × co-bucketed-corpus, never corpus²;
    LSH membership is read off the same four signature mins the
    candidate query banding uses."""
    docs = _t(spark, sf_dir, "documents")
    sh = dedup.word_shingles(dedup.tokens(F.col("text")), 3)
    base = docs.select(
        "doc_id",
        F.array_distinct(F.transform(sh, dedup.md5_hash32)).alias("_hs"),
    ).where(F.size("_hs") > 0)
    a = base.where(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("id_a"),
        F.size("_hs").alias("sz_a"),
        F.explode("_hs").alias("h32"),
    )
    b = base.select(
        F.col("doc_id").alias("id_b"),
        F.size("_hs").alias("sz_b"),
        F.explode("_hs").alias("h32"),
    )
    inter = (
        a.join(b, "h32")
        .where(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    truth = inter.where(
        F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        >= F.lit(0.5)
    ).select("id_a", "id_b")
    sig = dedup.minhash_signatures_docs(docs)
    sa = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh_{i}").alias(f"a{i}") for i in range(4)],
    )
    sb = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh_{i}").alias(f"b{i}") for i in range(4)],
    )
    hit = F.when(
        ((F.col("a0") == F.col("b0")) & (F.col("a1") == F.col("b1")))
        | ((F.col("a2") == F.col("b2")) & (F.col("a3") == F.col("b3"))),
        1,
    ).otherwise(0)
    return (
        truth.join(sa, "id_a")
        .join(sb, "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.coalesce(F.sum(hit), F.lit(0)).cast("bigint").alias("n_hit"),
            F.round(
                F.coalesce(F.sum(hit), F.lit(0))
                / F.greatest(F.count(F.lit(1)), F.lit(1))
                + F.lit(1e-9),
                6,
            ).alias("recall"),
        )
    )


@qdef(
    "sink_lsh_index",
    )
def q_sink_lsh_index(spark, sf_dir):
    """Persisted LSH near-dup INDEX lifecycle — the incremental-ingest
    twin of sink_ivf_index: the existing corpus's banded MinHash keys
    are WRITTEN partitioned by (band_idx, shard=hash(band_key)%16), a
    'new batch' (doc_id < 50) probes the STORED index with an equi
    join on (band_idx, shard, band_key), and candidates are the
    probe×index band collisions. At 100 TB corpus growth this is the
    difference between re-deduplicating the whole lake per batch and
    touching only the shards the new keys hash into: the probe's
    shard list (≤16 values by construction — the shard space is
    fixed) is collected and applied as a STATIC partition filter on
    the stored index, and the plan of the pruned scan feeding the
    actual returned join is asserted to carry PartitionFilters. The
    oracle is the declarative form: band collisions between the two
    doc populations — proving the persisted-index round-trip loses no
    candidate pair."""
    docs = _t(spark, sf_dir, "documents")

    def banded_of(side):
        # filter BEFORE the signature pipeline: the doc_id split does
        # not push below ensure_min_parallelism's repartition, so
        # filtering the banded frame made every downstream job (the
        # shard collect, the probe join) recompute the FULL corpus's
        # minhash — measured 1.1 s each at sf0.1 for a 50-doc probe
        sig = dedup.minhash_signatures_docs(side)
        return dedup.banded_signatures(sig).withColumn(
            "shard", F.pmod(F.xxhash64("band_key"), F.lit(16))
        )

    out = scratch_dir("w4c_lsh")
    # repartition on the partition axes before the partitioned write:
    # without it every input partition opens a file in every
    # (band_idx, shard) directory — P×32 small files and P×32 file
    # commits; with it each directory gets exactly one writer task
    (
        banded_of(docs.where(F.col("doc_id") >= 50))
        .repartition("band_idx", "shard")
        .write.mode("overwrite")
        .partitionBy("band_idx", "shard")
        .parquet(out)
    )
    lake = spark.read.parquet(out)
    probe = banded_of(docs.where(F.col("doc_id") < 50))
    # The shard domain is hash(band_key) % 16 — collecting the probe's
    # distinct shard list is bounded by 16 rows at ANY corpus size.
    probe_shards = sorted(
        r[0] for r in probe.select("shard").distinct().collect()
    )
    pruned = lake.where(F.col("shard").isin(probe_shards))
    result = (
        probe.alias("p")
        .join(pruned.alias("i"), on=["band_idx", "shard", "band_key"])
        .select(
            F.col("p.doc_id").alias("id_a"), F.col("i.doc_id").alias("id_b")
        )
        .distinct()
    )
    # partition-pruning proof on the plan actually returned: the
    # stored-index scan must carry the shard PartitionFilters
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "shard" in plan, (
        "index probe did not push shard filters to partition pruning"
    )
    return result


@qdef("sink_exact_dedup_index")
def q_sink_exact_dedup_index(spark, sf_dir):
    """Persisted EXACT-dedup index lifecycle — the md5 twin of
    ``sink_lsh_index`` and the incremental form of ``dedup_exact``
    (reference analog: the decode dict cache that lets re-seen inputs
    skip work, datasets.py:51-53, recast as corpus-scale state): the
    stored corpus's (md5(text), doc_id) rows are WRITTEN partitioned
    by ``shard = hash(text_hash) % 16``; an arriving re-crawl batch
    (exact text copies under fresh ids — synthesized here as the
    ``doc_id % 7 == 0`` slice shifted by 1e6, restated identically in
    the oracle) probes the STORED index with an equi join on
    (shard, text_hash). The probe's distinct shard list (≤ 16 values
    by construction) is applied as a static partition filter and the
    returned plan is asserted to carry PartitionFilters — at 100 TB
    an arriving batch deduplicates against the whole history by
    touching only the shards its hashes land in, never re-scanning
    (or re-hashing) the accumulated corpus."""
    docs = _t(spark, sf_dir, "documents")
    stored = docs.select(
        F.md5("text").alias("text_hash"), F.col("doc_id")
    ).withColumn("shard", F.pmod(F.xxhash64("text_hash"), F.lit(16)))
    out = scratch_dir("w4c_exact_idx")
    (
        stored.repartition("shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out)
    )
    lake = spark.read.parquet(out)
    batch = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("batch_id"),
        F.md5("text").alias("text_hash"),
    ).withColumn("shard", F.pmod(F.xxhash64("text_hash"), F.lit(16)))
    probe_shards = sorted(
        r[0] for r in batch.select("shard").distinct().collect()
    )
    pruned = lake.where(F.col("shard").isin(probe_shards))
    result = (
        batch.join(pruned, on=["shard", "text_hash"])
        .select("batch_id", F.col("doc_id").alias("stored_id"))
    )
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "shard" in plan, (
        "exact-index probe did not push shard filters to partition pruning"
    )
    return result


@qdef(
    "dedup_minhash_estimate",
    )
def q_dedup_minhash_estimate(spark, sf_dir):
    """MinHash Jaccard ESTIMATION — the third leg of the MinHash
    story (signatures → LSH candidates → estimated similarity):
    P[min-hash collision] = Jaccard, so the fraction of agreeing
    signature components estimates the pair's Jaccard without
    touching shingle sets — at 100 TB the verify stage reads k
    integers per doc instead of re-shingling documents. The exact
    ``dedup_ngram_jaccard`` is the correctness anchor; estimator
    variance (1/√k) is the documented trade."""
    docs = _t(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures_docs(docs)
    cand = dedup.lsh_candidate_pairs(sig)
    a = sig.select(
        F.col("doc_id").alias("id_a"), *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(4)]
    )
    b = sig.select(
        F.col("doc_id").alias("id_b"), *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(4)]
    )
    est = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0) for i in range(4)
    ) / F.lit(4.0)
    return (
        cand.join(a, on="id_a")
        .join(b, on="id_b")
        .select(
            "id_a", "id_b", F.round(est + F.lit(1e-9), 6).alias("jaccard_est")
        )
    )


@qdef(
    "dedup_ngram_jaccard",
    )
def q_dedup_ngram_jaccard(spark, sf_dir):
    """n-gram Jaccard near-dup pairs (threshold 0.5): one shuffle on
    the 8-byte shingle hash, ordered pairs enumerated JVM-side inside
    each bucket — cost tracks shared-shingle volume."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs_docs(docs, threshold=0.5)
    return pairs.select("id_a", "id_b", r6(F.col("jaccard")).alias("jaccard"))


@qdef(
    "dedup_ngram_containment",
    )
def q_dedup_ngram_containment(spark, sf_dir):
    """Asymmetric shingle containment |A∩B|/|A| >= 0.8 — the
    truncated-copy / quote detector Jaccard structurally misses (a
    doc embedded in a 10x-longer one has J ~ 0.1 but C = 1). Same
    single shuffle + max_df stop-list as the Jaccard form; the
    fixture guarantees hits by prefix-truncating every 9th doc to
    its first 40% under a shifted id (restated in the oracle)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    trunc = docs.where(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
        F.array_join(
            F.slice(
                toks,
                F.lit(1),
                # floor() explicitly: DuckDB CAST(float AS INT) ROUNDS
            # while Spark's cast truncates — unpinned, the truncation
            # lengths diverge at .5 boundaries (bit us at sf0.1)
            F.greatest(F.floor((F.size(toks) * F.lit(2)) / F.lit(5)), F.lit(3)).cast("int"),
            ),
            " ",
        ).alias("text"),
    )
    corpus = docs.unionByName(trunc)
    pairs = dedup.ngram_containment_pairs_docs(corpus, threshold=0.8)
    return pairs.select(
        "contained_id", "container_id", r6(F.col("containment")).alias("containment")
    )


@qdef(
    "dedup_jaccard_prefix",
    )
def q_dedup_jaccard_prefix(spark, sf_dir):
    """EXACT all-pairs Jaccard ≥ 0.5 via prefix filtering
    (AllPairs/PPJoin): global rare-first shingle order, only each
    doc's ``sz − ceil(t·sz) + 1`` rarest shingles enter candidate
    buckets, candidates verify the true Jaccard on the full hash
    sets.  Lossless — the oracle is the UNCAPPED brute-force pair
    join, so this proves the filter drops no qualifying pair — and
    scale-safe where the capped enumerator is recall-only: bucket
    population tracks rare-shingle df, which Zipf keeps bounded.
    See operators/dedup.py:prefix_filtered_jaccard_pairs."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.prefix_filtered_jaccard_pairs(docs, threshold=0.5)
    return pairs.select("id_a", "id_b", r6(F.col("jaccard")).alias("jaccard"))


@qdef(
    "dedup_connected_components",
    )
def q_dedup_connected_components(spark, sf_dir):
    """End of the dedup pipeline: near-dup pairs (Jaccard ≥ 0.5) →
    duplicate CLUSTERS via iterative min-label propagation → canonical
    doc per cluster (keep `is_canonical`, drop the rest). The
    iterative Spark loop is oracle-checked against a recursive-CTE
    transitive closure — an exactness guarantee most CC
    implementations never get. Rounds = cluster hop-diameter (2-3 for
    near-dup graphs); each round is one shuffle."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs_docs(docs, threshold=0.5)
    comp = dedup.connected_components(pairs)
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("component_id"),
        (F.col("id") == F.col("comp")).alias("is_canonical"),
    )


@qdef(
    "dedup_simhash",
    )
def q_dedup_simhash(spark, sf_dir):
    """16-bit SimHash fingerprint: per-bit ±1 majority vote over
    md5-derived token hashes, composed into one integer."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash(docs, bits=16)


@qdef(
    "text_token_count",
    )
def q_text_token_count(spark, sf_dir):
    """Token counting: whitespace tokens + a BPE-ish regex segmenter
    (letters / digit runs / punctuation runs)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count(F.col("text")).alias("n_tokens"),
        text.bpe_ish_token_count(F.col("text")).alias("n_bpe_ish"),
    )


@qdef(
    "text_lang_id",
    )
def q_text_lang_id(spark, sf_dir):
    """Language ID: marker-lexicon hit argmax (n-gram heuristic
    stand-in; a fastText Pandas UDF slots into the same call site)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", text.lang_id(F.col("text")).alias("pred_lang"))


@qdef(
    "text_quality_score",
    )
def q_text_quality_score(spark, sf_dir):
    """Composite quality heuristic: length + stopword-ratio terms
    minus punctuation-soup penalty (pure per-row arithmetic, emitted
    raw)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", text.quality_score(F.col("text")).alias("quality"))


@qdef(
    "text_fingerprint",
    )
def q_text_fingerprint(spark, sf_dir):
    """Order-sensitive document fingerprint: Σ h32(token_i)·i mod
    2^61−1 — integer arithmetic, exactly reproducible cross-engine
    (Spark reduces stepwise to stay overflow-safe; DuckDB sums into
    HUGEINT then reduces — mod distributes over addition)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", text.fingerprint(F.col("text")).alias("fingerprint"))


@qdef(
    "sim_cosine_topk",
    )
def q_sim_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k over the embedding column: the ANN
    correctness baseline. JVM-side zip_with/aggregate vector math;
    deterministic tie-break on item id."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb.where(F.col("vec_id") < 8), emb, k=5)


@qdef(
    "sim_cosine_topk_blas",
    )
def q_sim_cosine_topk_blas(spark, sf_dir):
    """Broadcast-corpus BLAS form of the brute-force baseline: corpus
    matrix replicated once per worker, one matmul per Arrow query
    batch — no crossJoin, no shuffle. Checked against the SAME oracle
    as sim_cosine_topk, proving the vectorized path is value-identical
    to the HOF form."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_blas(emb.where(F.col("vec_id") < 8), emb, k=5)


@qdef(
    "sim_cosine_bucketed",
    )
def q_sim_cosine_bucketed(spark, sf_dir):
    """IVF-style bucketed ANN: cosine top-k restricted to the same
    coarse bucket (label ≈ nearest-centroid assignment) — the search
    join becomes bucket-local instead of a cross join."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_bucketed(
        emb.where(F.col("vec_id") < 40), emb, bucket_col="label", k=5
    )


# The bucketed oracle is derived from _COSINE_SQL by string surgery;
# if the template drifts, the .replace()s silently no-op and the
# oracle degrades to the unbucketed all-pairs search (caught once —
# fail at import instead of at the driver gate).
for _frag in ("q.label = c.label", "query_id, label,", "item_id, label,"):
    assert _frag in REGISTRY["sim_cosine_bucketed"].oracle, (
        f"sim_cosine_bucketed oracle lost its bucket surgery: {_frag!r}"
    )


# Deterministic ±1 hyperplane matrix shared bit-exactly between the
# Spark plan and the SQL oracle (md5-parity draws, 64 dims; the plane
# COUNT is scale-adaptive — see similarity.adaptive_n_planes).
@qdef(
    "sim_hyperplane_lsh",
    )
def q_sim_hyperplane_lsh(spark, sf_dir):
    """Random-hyperplane LSH near-dup search: a SimHash signature
    over the embedding column buckets the candidate space
    (data-independent — no labels, no trained centroids), cosine
    verified within buckets. Resolution is FRACTIONAL (r8, the r7
    weak-flag port): the 1/4-step chain (adaptive_total_planes)
    yields (p, r) = (Q//4, Q%4); merged prefixes bucket on p planes
    and the ``prefix % 4 < r`` quarter-fraction on p+1, so E[bucket
    depth] steps by ~1.19× per quarter-octave of data instead of
    the integral 2× sawtooth (3.21× wall at 3× data, SCALING.md §7).
    The oracle recomputes the identical plane matrix from embedded
    constants, the identical Q from the same integer-comparison
    chain over count(*), and the identical split key with one
    modulo. r9: past ARROW_SIGNATURE_MIN_ROWS the verify tail is the
    census-gated BLAS block-pair path — exact-collision verify work
    is Σ bucket-depth², which on label-clustered corpora grew
    14.5×/decade while mean depth stayed flat (SCALING.md §7c, weak
    flag #1); the BLAS path runs the same pair set as numpy matmuls
    and splits dense cells across block-pair tasks, keeping the
    second moment off the wall clock."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.near_dup_pairs_hyperplane(
        emb, threshold=0.2, target_bucket=8,
        n_rows=table_rows(spark, sf_dir, "embeddings"),
    )


def _multiprobe_signs(emb, n=None):
    """Fan-out-normalized split for the multiprobe query: work/row
    = (p+2)·depth held at the MULTIPROBE_WORK_TARGET (80) work target
    (similarity.fractional_split_multiprobe), so the probe join's
    cost per row stays constant as the corpus grows instead of
    drifting by the log-n fan-out. ``n`` (when the caller knows the
    lake path) comes from parquet footer metadata — no count job;
    the df.count() fallback serves callers holding only a frame."""
    if n is None:
        n = emb.count()
    p, r = similarity.fractional_split_multiprobe(n)
    return similarity.hyperplane_signs(p + (1 if r else 0), 64), p, r, n


@qdef(
    "sim_lsh_multiprobe",
    )
def q_sim_lsh_multiprobe(spark, sf_dir):
    """Multi-probe hyperplane LSH near-dup pairs: candidates collide
    on the exact FRACTIONAL bucket key OR differ in exactly one
    prefix plane — the recall knob the scale-adaptive resolution
    trades against, at the cost of one explode (p+2 probe keys per
    row) instead of any quadratic work. Fractional resolution (r8,
    the r7 weak-flag port) replaces the integral Hamming<=1 rule
    whose probe fan-out amplified the resolution sawtooth to 4.07×
    wall at 3× data (SCALING.md §7): prefix distance 0 always
    qualifies, distance 1 qualifies unless BOTH prefixes are
    unmerged AND the extension bits differ. The oracle restates the
    rule as a pure predicate over xor of the embedded-plane
    signatures; verification is the shared rounded-cosine cut.
    Resolution is additionally FAN-OUT-NORMALIZED (the residual
    super-linearity after the sawtooth fix): the (p, r) split holds
    (p+2)·depth — probe work per row — at the
    MULTIPROBE_WORK_TARGET (80) work target
    instead of holding depth alone, so the measured 3× ratio stays
    ~linear instead of drifting by the log-n fan-out.

    The probe rule is SIZE-GATED: while p ≤ 8 (p = 6 at 500 vectors,
    8 at 2 000) every prefix plane is probed; past it each row probes
    only its 8 lowest-|dot| prefix planes (Lv et al.), so probe rows
    per input row stay ≤ 10 at every corpus size and the explode is
    linear, not n·log n (near_dup_pairs_multiprobe's ``n_probes``).
    One oracle covers both regimes: the bounded meet rule's rnk ≤ 8
    masks are full exactly when p ≤ 8, where it is the symmetric
    predicate."""
    emb = _t(spark, sf_dir, "embeddings")
    signs, p, r, n = _multiprobe_signs(
        emb, table_rows(spark, sf_dir, "embeddings")
    )
    return similarity.near_dup_pairs_multiprobe(
        emb, signs, prefix_planes=p, split_r=r, threshold=0.2, n_rows=n
    )


@qdef(
    "sim_lsh_multiprobe_bounded",
    )
def q_sim_lsh_multiprobe_bounded(spark, sf_dir):
    """Bounded-fan-out multiprobe LSH near-dup pairs (Lv et al.
    2007): each row probes its exact fractional bucket, the
    extension flip, and ONLY its 8 lowest-|dot| prefix planes — the
    flips a borderline neighbor is most likely to differ in — so
    probe work per row is (8+2)·depth with BOTH factors constant
    (depth from the depth-constant quarter-step split). This is the
    truly-linear member of the probe family: `sim_lsh_multiprobe`'s
    full-prefix fan-out p+2 grows with log n, the n·log n explode
    measured as its 11.1×/decade residual (SCALING.md §7d); here the
    explode is n·10 at every corpus size. At gate SFs where p ≤ 8
    the mask covers every prefix plane and the two operators emit
    identical pairs (unit-pinned). The oracle restates the probe
    mask with a row_number over the identically-quantized
    round(|dot|+1e-9, 6) and the per-DIRECTION meet rule: a
    one-plane-apart pair is a candidate iff the differing plane is
    in A's mask and (merged_b OR ext_a = ext_b), or symmetrically
    for B.

    This query is the coverage pin of the bounded-T rule, which
    ``sim_lsh_multiprobe`` runs past its gate. It keeps the
    DEPTH-CONSTANT split (depth 8) rather than the fan-out-normalized
    one, so its per-row probe work equals the default's at T=8 but
    its buckets run ~2× deeper at large n. Both go through
    near_dup_pairs_multiprobe with ``n_probes=8``: at p ≤ 8 (every
    gate SF) the mask would cover every prefix plane, so the full rule
    runs and emits the same pairs."""
    emb = _t(spark, sf_dir, "embeddings")
    n = table_rows(spark, sf_dir, "embeddings")
    p, r = similarity.fractional_split(n, target_bucket=8)
    signs = similarity.hyperplane_signs(p + (1 if r else 0), 64)
    return similarity.near_dup_pairs_multiprobe(
        emb, signs, prefix_planes=p, split_r=r, threshold=0.2, n_probes=8,
        n_rows=n,
    )


def _banded_signs(emb, n_bands: int = 4, n=None):
    """Plane matrix + fractional band layout for the banded
    construction: total plane count from the 1/4-step chain
    (adaptive_total_planes, MAX_QUARTER_STEPS=120 cap — two bigint
    words past 60 planes, the r9 extension of the measured 60-bit
    cap, SCALING.md §7c), split by
    similarity.band_layout into W/W+1 (offset, width) slices — one
    extra data octave moves ONE band by one plane, so candidate work
    steps by ~2^(1/4) instead of the integral chain's 2× (the
    flattened sawtooth, SCALING.md §7). Also returns the fractional
    single-signature split (p, r) (the exact-collision key rule) and
    the fan-out-normalized multiprobe split (p2, r2) — the recall
    harness reads exact membership with the former and probe
    membership with the latter, the same rules the candidate queries
    use; the matrix covers max(total, p+1, p2+1) so every read is
    defined. ``n`` (when known from footer metadata) skips the
    count job."""
    if n is None:
        n = emb.count()
    total = similarity.adaptive_total_planes(
        n, n_bands=n_bands, target_bucket=8
    )
    layout = similarity.band_layout(total, n_bands)
    p, r = similarity.fractional_split(n, n_bands=n_bands, target_bucket=8)
    p2, r2 = similarity.fractional_split_multiprobe(n, n_bands=n_bands)
    signs = similarity.hyperplane_signs(max(total, p + 1, p2 + 1), 64)
    return signs, layout, (p, r), (p2, r2), n


@qdef(
    "sim_lsh_banded",
    )
def q_sim_lsh_banded(spark, sf_dir):
    """Banded multi-signature hyperplane LSH near-dup pairs: one
    wide signature sliced into 4 disjoint bit-bands, a pair
    qualifying when ANY band matches exactly — the canonical
    high-recall LSH construction (per-band collision s^P compounds
    to 1-(1-s^P)^4), completing the family's knob set: adaptive
    width buys precision, probing buys one bit of slack, bands buy
    independent retries. Resolution is FRACTIONAL (r7): the total
    plane count comes from the 1/4-step chain and bands carry W/W+1
    planes each, so bucket depth tracks the corpus in ~1.19× steps
    instead of the integral variants' 2× sawtooth. Linear cost: one
    explode to 4 (band, key) rows per vector, equi self-join,
    distinct, cosine verify. The oracle recovers every band key by
    slicing the embedded TWO-WORD bucket value (hp0/hp1, the r9
    MAX_QUARTER_STEPS=120 cap extension) with the same SQL-derived
    layout (off_b = b·(q//4)+least(b,q%4)); past ~220 k rows the
    total crosses 60 planes and the keys straddle into word 1 —
    the path sim_lsh_banded_hiword pins at every gate SF."""
    emb = _t(spark, sf_dir, "embeddings")
    signs, layout, _pr, _pr2, n = _banded_signs(
        emb, n=table_rows(spark, sf_dir, "embeddings")
    )
    return similarity.near_dup_pairs_banded(
        emb,
        signs,
        n_bands=4,
        threshold=0.2,
        widths=[w for _, w in layout],
        n_rows=n,
    )


#: Plane offset of the hiword coverage query: band slices start at
#: bit 58, so band 0 straddles the 60-bit word boundary and the rest
#: read word 1 at EVERY corpus size — the two-word signature path
#: (r9 cap extension) stays oracle-verified at the gate SFs, where
#: the adaptive total alone would need >~220 k rows to leave word 0.
HIWORD_OFFSET = 58


@qdef(
    "sim_lsh_banded_hiword",
    )
def q_sim_lsh_banded_hiword(spark, sf_dir):
    """Banded hyperplane LSH with the band slices shifted to bits
    [58, 58+Q) of a wider signature — the ORACLE-BEARING coverage
    query for the multi-word signature path
    (similarity.hyperplane_signature / band_key_words /
    MAX_QUARTER_STEPS=120). All planes are i.i.d.
    md5-parity draws, so the construction and its statistics are
    exactly sim_lsh_banded's — same adaptive quarter-step total, same
    W/W+1 band layout, same census cap and verify — but every band
    key is extracted from word 1 or across the 60-bit straddle, the
    arithmetic no sf ≤ 10 lake reaches organically (the adaptive
    total crosses 60 planes only past ~8·2^14.75 ≈ 220 k rows). The
    oracle restates the two-word signature (hp0 = planes [0,60),
    hp1 = [60,...)) and the straddling slice extraction with the
    same q-derived layout scalars; its two-word form covers corpora
    up to 58 + Q ≤ 120 planes (n ≤ ~311 k — every oracle lake),
    while the Spark side generalizes to ceil(P/60) words."""
    emb = _t(spark, sf_dir, "embeddings")
    n = table_rows(spark, sf_dir, "embeddings")
    total = similarity.adaptive_total_planes(n, n_bands=4, target_bucket=8)
    layout = similarity.band_layout(total, 4)
    signs = similarity.hyperplane_signs(HIWORD_OFFSET + total, 64)
    return similarity.near_dup_pairs_banded(
        emb,
        signs,
        n_bands=4,
        threshold=0.2,
        widths=[w for _, w in layout],
        n_rows=n,
        offset=HIWORD_OFFSET,
    )


@qdef(
    "sim_lsh_recall",
    )
def q_sim_lsh_recall(spark, sf_dir):
    """MEASURED recall of the adaptive hyperplane LSH against the
    brute-force truth on a deterministic query sample (vec_id % 23):
    one row of (n_true, n_hit_exact, n_hit_probe, n_hit_banded,
    recall_exact, recall_probe, recall_banded). This is the number
    behind the documented single-signature recall trade —
    fractional-key collision recall at the adaptive (p, r) split,
    what the prefix-flip probes buy back, and the banded OR's
    compounding — membership restated with the exact rules the three
    candidate generators use. The sample
    keeps the truth computation linear in the corpus (sample x
    corpus, never corpus x corpus); the LSH memberships are read off
    the same signatures the candidate queries use. Threshold 0.2 is
    the measurable regime on this corpus (the synthetic embeddings'
    pairwise-cosine ceiling is ~0.5, so a near-dup cut has an empty
    truth set); recall rises steeply with similarity — P planes
    collide with probability (1-θ/π)^P, ~0.3^P at cos 0.2 vs ~0.86^P
    at cos 0.9."""
    emb = _t(spark, sf_dir, "embeddings")
    # ONE wide signature serves all three generators: exact
    # membership reads the low p+1 bits through the fractional
    # (p, r) split, probe membership the fan-out-normalized
    # (p2, r2) split (the exact planes and key rules the
    # single-signature queries use — same matrix prefix), banded
    # membership reads the fractional W/W+1 band slices (layout
    # comes straight from similarity.band_layout — the same helper
    # near_dup_pairs_banded rides — so the harness can never
    # desynchronize from the candidate generators).
    # n_hit_probe/recall_probe read the FULL-prefix probe rule over
    # the (p2, r2) split — the p2 <= 8 regime of the size-gated
    # default (both oracle gates); past the gate the bounded-T
    # default's recall is measured separately (SCALING.md §7f:
    # the depth-constant bounded split is COARSER, so its recall
    # reads ~8% above the normalized full-prefix rule at sf10).
    signs4, layout, (p_, r_), (p2_, r2_), n_emb = _banded_signs(
        emb, n=table_rows(spark, sf_dir, "embeddings")
    )
    mask = F.lit((1 << p_) - 1).cast("bigint")
    mask2 = F.lit((1 << p2_) - 1).cast("bigint")
    # the wide signature may span two bigint words past 60 planes
    # (the r9 cap extension); the single-signature reads below touch
    # only word 0 (p, p2 ≤ 30 by construction), the band slices may
    # straddle the word boundary
    n_words = similarity.signature_n_words(len(signs4))
    sig = emb.select(
        "vec_id",
        "embedding",
        similarity.hyperplane_signature(
            F.col("embedding"), signs4, n_emb
        ).alias("hpw"),
    )
    q = sig.where(F.col("vec_id") % 23 == 0).select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("qv_raw"),
        F.col("hpw").alias("hqw"),
    )
    from weather4cast_bigdata_spark.functions.arrays import dot, norm, to_double_array
    from weather4cast_bigdata_spark.partitioning import ensure_min_parallelism

    # the CORPUS side streams through the nested-loop join (the small
    # query sample broadcasts), so its partition count is the join's
    # parallelism — without this the brute-force truth runs one task.
    # Norms ride each side ONCE (r10, same rewrite as
    # similarity._scored): the truth computes sample × corpus
    # cosines, and folding norm(cv) per PAIR re-did the corpus fold
    # |sample| times — bit-identical values, 3× less per-pair work.
    q = q.select(
        "a_id", "hqw", to_double_array(F.col("qv_raw")).alias("qv")
    ).withColumn("_qn", norm(F.col("qv")))
    c = ensure_min_parallelism(
        sig.select(
            F.col("vec_id").alias("b_id"),
            to_double_array(F.col("embedding")).alias("cv"),
            F.col("hpw").alias("hcw"),
        ).withColumn("_cn", norm(F.col("cv")))
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("a_id") != F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            "hqw",
            "hcw",
            F.round(
                F.try_divide(
                    dot(F.col("qv"), F.col("cv")),
                    F.col("_qn") * F.col("_cn"),
                )
                + F.lit(1e-9),
                6,
            ).alias("cos_sim"),
        )
    )
    truth = scored.where(F.col("cos_sim") >= F.lit(0.2))
    hq0 = F.element_at("hqw", 1)
    hc0 = F.element_at("hcw", 1)
    xw = [
        F.element_at("hqw", w + 1).bitwiseXOR(F.element_at("hcw", w + 1))
        for w in range(n_words)
    ]
    x0 = xw[0]
    xp = x0.bitwiseAND(mask)
    merged_q = (hq0.bitwiseAND(mask) % 4) >= F.lit(r_)
    ext_same = F.shiftright(x0, p_).bitwiseAND(F.lit(1).cast("bigint")) == 0
    hit_exact = F.when((xp == 0) & (merged_q | ext_same), 1).otherwise(0)
    xp2 = x0.bitwiseAND(mask2)
    merged2_q = (hq0.bitwiseAND(mask2) % 4) >= F.lit(r2_)
    merged2_c = (hc0.bitwiseAND(mask2) % 4) >= F.lit(r2_)
    ext2_same = F.shiftright(x0, p2_).bitwiseAND(F.lit(1).cast("bigint")) == 0
    hit_probe = F.when(
        (xp2 == 0)
        | ((F.bit_count(xp2) == 1) & (merged2_q | merged2_c | ext2_same)),
        1,
    ).otherwise(0)
    # a band key slice of the XOR is 0 ⟺ the two band keys match —
    # the same word-straddling extraction the candidate query uses
    band_zero = [
        similarity.band_key_words(xw, off, w) == 0 for off, w in layout
    ]
    hit_banded = F.when(
        band_zero[0] | band_zero[1] | band_zero[2] | band_zero[3], 1
    ).otherwise(0)
    n = F.greatest(F.count(F.lit(1)), F.lit(1))
    return truth.agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(hit_exact).alias("n_hit_exact"),
        F.sum(hit_probe).alias("n_hit_probe"),
        F.sum(hit_banded).alias("n_hit_banded"),
        F.round(F.sum(hit_exact) / n + F.lit(1e-9), 6).alias("recall_exact"),
        F.round(F.sum(hit_probe) / n + F.lit(1e-9), 6).alias("recall_probe"),
        F.round(F.sum(hit_banded) / n + F.lit(1e-9), 6).alias("recall_banded"),
    )


@qdef(
    "embed_pq_codes",
    )
def q_embed_pq_codes(spark, sf_dir):
    """Product quantization: every 64-dim float vector compresses to
    8 one-byte codes (nearest of 16 sample-seeded centroids per
    8-dim subspace, squared-L2, ties to the lowest code) — a 32×
    memory cut that puts a 100 TB embedding corpus into RAM-resident
    ANN indexes. Narrow posexplode + 8-row broadcast codebook +
    in-row array_min argmin: zero corpus shuffles, zero Python. The
    oracle recomputes the identical codebook and assignment (fixed
    fp association order). See operators/similarity.py:pq_codes."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.pq_codes(emb)
    return out.select(
        "vec_id",
        F.col("sub").cast("int").alias("sub"),
        F.col("code").cast("int").alias("code"),
        "dist",
    )


@qdef(
    "sim_pq_adc_topk",
    )
def q_sim_pq_adc_topk(spark, sf_dir):
    """Asymmetric-distance PQ search: the query precomputes an 8×16
    centroid-distance lookup table (128 rows, broadcast) and each
    corpus vector's distance estimate is 8 table lookups summed in a
    FIXED pivot chain (not a float-order-nondeterministic groupBy
    sum) — at scale the scan touches 8-byte codes, never the raw
    floats. Top-10 nearest to the code-0 seed vector, ties by id.
    See operators/similarity.py:pq_adc_topk."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.pq_adc_topk(emb, k=10)


@qdef(
    "sim_ivfpq_topk",
    )
def q_sim_ivfpq_topk(spark, sf_dir):
    """IVF-PQ, the production ANN composition: k-means coarse cells
    restrict the scan (IVF) and distances within probed cells come
    from 8-byte PQ codes via the broadcast ADC table — at 100 TB a
    probe reads nprobe/n_cells of the index and each row is 32×
    smaller than its vector. Run here at FULL probe, which makes the
    result provably identical to exhaustive ADC — so this shares
    sim_pq_adc_topk's oracle, hash-proving the cell layer is lossless
    (the sink_ivf_index pattern); the partial-probe path is covered
    by a monotonicity unit test. See
    operators/similarity.py:ivfpq_adc_topk."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivfpq_adc_topk(emb, k=10, nprobe=None)


@qdef(
    "sink_ivfpq_index",
    # full-probe search over the STORED index is provably identical to
    # exhaustive ADC, so the round-trip shares sim_pq_adc_topk's oracle
    # bound below once sim_pq_adc_topk is registered
)
def q_sink_ivfpq_index(spark, sf_dir):
    """Persisted IVF-PQ index lifecycle — the production ANN storage
    path end-to-end: every corpus vector gets its k-means cell and
    its 8 WIDE PQ code columns (8 bytes/vector — what the index
    actually stores), the codes are WRITTEN
    ``partitionBy("ivf_bucket")`` (the cell layout IS the index),
    read back, and searched from the STORED codes alone via the
    constant-folded ADC table — the raw vectors are never touched at
    search time. Full probe ⇒ hash-identical to exhaustive ADC
    (shares sim_pq_adc_topk's oracle — the lossless-round-trip proof,
    sink_ivf_index pattern); a 2-cell partial probe is asserted
    inline to plan with parquet PartitionFilters, so at 100 TB a
    probe reads nprobe/n_cells of 8-byte rows. See
    operators/similarity.py:pq_codes_wide / adc_from_stored_codes."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_centroids(emb, k=8, iters=5, seed=42)
    cb_rows = similarity.pq_codebook_rows(emb)
    bucketed = similarity.assign_ivf_buckets(emb, cents, nprobe=1)
    wide = similarity.pq_codes_wide(
        bucketed, codebook_rows=cb_rows, keep_cols=("ivf_bucket",)
    )
    out = scratch_dir("w4c_ivfpq")
    # one writer task per cell dir (not input-partitions × cells files)
    wide.repartition("ivf_bucket").write.mode("overwrite").partitionBy(
        "ivf_bucket"
    ).parquet(out)
    lake = spark.read.parquet(out)
    # partition-pruning proof on a 2-cell probe of the stored index
    probe_plan = (
        lake.where(F.col("ivf_bucket").isin(0, 1))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in probe_plan and "ivf_bucket" in probe_plan, (
        "stored IVF-PQ probe did not plan with partition pruning"
    )
    return (
        lake.select("vec_id", similarity.adc_from_stored_codes(cb_rows))
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


# bind the shared oracle now that both entries exist (dataclass is
# frozen — rebuild the entry rather than mutating it)
REGISTRY["sink_ivfpq_index"] = QueryDef(
    "sink_ivfpq_index",
    REGISTRY["sink_ivfpq_index"].fn,
    REGISTRY["sim_pq_adc_topk"].oracle,
    REGISTRY["sink_ivfpq_index"].doc,
)


@qdef(
    "curation_pipeline",
    )
def q_curation_pipeline(spark, sf_dir):
    """The composed training-data flagship: quality cut → exact dedup
    → near-dup clustering (Jaccard ≥ 0.5 → connected components) →
    canonical keep → deterministic stratified split with token
    accounting — one plan end-to-end, oracle-checked against the full
    recursive-SQL rendition."""
    from weather4cast_bigdata_spark.plans.curation import curate

    docs = _t(spark, sf_dir, "documents")
    return curate(docs)


@qdef(
    "scan_jsonl_roundtrip",
    )
def q_scan_jsonl_roundtrip(spark, sf_dir):
    """JSONL interchange round-trip: documents → JSON-lines sink →
    schema-explicit PERMISSIVE read must reproduce the table
    bit-exactly (hash-matched against the original). Proves the
    training-data ingest path (explicit schema — no inferSchema extra
    pass; corrupt lines quarantined, not fatal)."""

    from weather4cast_bigdata_spark.sources import jsonl

    docs = _t(spark, sf_dir, "documents")
    out = scratch_dir("w4c_jsonl")
    jsonl.write_jsonl(docs, out)
    schema = docs.schema
    return jsonl.read_jsonl(spark, out, schema).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


@qdef(
    "scan_orc_roundtrip",
    )
def q_scan_orc_roundtrip(spark, sf_dir):
    """ORC interchange round-trip: documents → zstd ORC sink → read
    back hash-matched against the original table. ORC is the second
    columnar lake format Spark ships natively (Hive-ecosystem
    interchange); the read path gets the same predicate-pushdown /
    column-pruning treatment as parquet, so supporting it is a
    format flag, not an architecture change."""

    docs = _t(spark, sf_dir, "documents")
    out = scratch_dir("w4c_orc")
    docs.write.mode("overwrite").option("compression", "zstd").orc(out)
    return spark.read.orc(out).select("doc_id", "text", "lang", "source", "n_chars")


@qdef(
    "join_fuzzy_blocked",
    )
def q_join_fuzzy_blocked(spark, sf_dir):
    """Entity-resolution fuzzy self-join over customer names:
    prefix-blocked candidate generation (equi join — never the O(n²)
    all-pairs edit-distance scan), Levenshtein ≤ 1 verification.
    Both engines share the same unit-cost edit distance, so the pair
    set hash-matches; blocking recall semantics documented on the
    operator."""
    cust = _t(spark, sf_dir, "customer")
    return joins.fuzzy_self_join_blocked(
        cust,
        "c_custkey",
        "c_name",
        block=F.substring("c_name", 1, 16),
        max_dist=1,
    ).select(F.col("a_id").cast("long").alias("a_id"), F.col("b_id").cast("long").alias("b_id"), "edit_dist")


@qdef(
    "scan_csv_roundtrip",
    )
def q_scan_csv_roundtrip(spark, sf_dir):
    """CSV interchange round-trip with the same discipline as JSONL
    (explicit schema, header, PERMISSIVE quarantine): write → read
    must reproduce the documents table bit-exactly."""

    from weather4cast_bigdata_spark.sources import jsonl

    docs = _t(spark, sf_dir, "documents")
    out = scratch_dir("w4c_csv")
    jsonl.write_csv(docs, out)
    return jsonl.read_csv(spark, out, docs.schema).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


@qdef(
    "plot_frame_grid",
    )
def q_plot_frame_grid(spark, sf_dir):
    """Positional frame selection for the prediction-vs-truth plot
    grid (plots.py:12-51): past panels (1,3), future panels
    (0,2,7,15,31) of the 4+32 sequence, with the reference's T-offset
    titles. The visualization's data op — rendering is an import-gated
    driver-side step over this already-pruned set."""
    from weather4cast_bigdata_spark.plans.plots import frame_grid_data

    events = _t(spark, sf_dir, "events")
    slots = windows.with_time_slot(events, "ts", 15).select("user_id", "slot").distinct()
    return frame_grid_data(slots, keys=["user_id"], ts_col="slot").select(
        "user_id", "slot", "panel_idx", "t_offset"
    )


@qdef(
    "curation_source_stats",
    )
def q_curation_source_stats(spark, sf_dir):
    """Per-source corpus health report: doc count, mean quality,
    token budget, and exact-duplicate count — the aggregation that
    drives source-level keep/drop decisions ahead of per-doc
    curation. One window (text-hash dedup mark) + one groupBy."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    scored = docs.select(
        "source",
        F.round(text.quality_score(F.col("text")) + F.lit(1e-9), 6).alias("quality"),
        text.token_count(F.col("text")).alias("n_tokens"),
        F.row_number().over(w).alias("rn"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        r6(F.avg("quality")).alias("mean_quality"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.count(F.lit(1)) - F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))).alias("n_exact_dups"),
    )


@qdef(
    "sample_stratified_split",
    )
def q_sample_stratified_split(spark, sf_dir):
    """Deterministic 80/10/10 train/validation/test assignment by
    md5-hashed doc id — narrow projection, no RNG state, a document's
    split never changes as the corpus grows (unlike fraction-based
    randomSplit). The engine form of the reference's hard-coded subset
    partitions (datasets.py:233,263-265)."""
    docs = _t(spark, sf_dir, "documents")
    return setops.stratified_split(docs, "doc_id").select("doc_id", "lang", "split")


@qdef(
    "text_unigram_logprob",
    )
def q_text_unigram_logprob(spark, sf_dir):
    """Corpus-frequency fluency proxy (KenLM-style): per-doc mean
    ln p(token) under the corpus's own unigram distribution. The
    vocabulary-sized frequency dim broadcasts back onto the token
    stream — the only reused state when scoring 100 TB
    incrementally."""
    docs = _t(spark, sf_dir, "documents")
    out = text.unigram_logprob(docs)
    return out.select("doc_id", r6(F.col("mean_logprob")).alias("mean_logprob"), "n_tokens")


@qdef(
    "text_strip_markup",
    )
def q_text_strip_markup(spark, sf_dir):
    """HTML/markup scrub ahead of tokenization (synthetic tags wrapped
    around each doc, then stripped): pure regexp projection, the
    web-corpus boilerplate-removal step."""
    docs = _t(spark, sf_dir, "documents")
    tagged = F.concat(F.lit("<p>"), F.col("text"), F.lit("</p><br/>"))
    return docs.select("doc_id", text.strip_markup(tagged).alias("clean"))


@qdef(
    "text_vocab_topk",
    )
def q_text_vocab_topk(spark, sf_dir):
    """Vocabulary construction: top-100 most frequent lowercase tokens
    with deterministic (freq desc, token) tie-breaks. Plans as
    TakeOrderedAndProject after a map-side-combined count — exchange
    volume is O(k · partitions), not the distinct-token count."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text.tokens(F.lower(F.col("text")))).alias("token"))
    return aggregates.top_frequent(toks, "token", k=100)


@qdef(
    "text_heavy_hitters_cms",
    )
def q_text_heavy_hitters_cms(spark, sf_dir):
    """Count–Min sketch heavy hitters: 3×1024 counter table from
    md5-slice hashes, estimate = min of an item's 3 counters — always
    ≥ the true count (one-sided, no heavy item missed). The sketch
    state is FIXED SIZE regardless of corpus scale: after map-side
    combine the counter groupBy shuffles ≤ 3·1024 rows where a full
    token groupBy shuffles the vocabulary. Output joins the top-25
    true frequencies against their estimates so the overestimate is
    visible (and the oracle rebuilds the identical sketch, collisions
    included). See operators/aggregates.py:count_min_estimates."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(text.tokens(F.lower(F.col("text")))).alias("item")
    )
    # two corpus passes total: counter fit + true-count groupBy; the
    # fitted 3x1024 table is a literal projection onto the true-count
    # frame, so NO probe pass and NO join exist in the final plan
    table = aggregates.count_min_table(toks, "item", width=1024, depth=3)
    tru = toks.groupBy("item").agg(F.count(F.lit(1)).alias("true_count"))
    return (
        tru.select(
            "item",
            "true_count",
            aggregates.count_min_expr(table, "item", width=1024).alias(
                "cms_estimate"
            ),
        )
        .orderBy(F.desc("true_count"), "item")
        .limit(25)
    )


@qdef(
    "sample_weighted_priority",
    )
def q_sample_weighted_priority(spark, sf_dir):
    """Weighted sampling without replacement (priority sampling,
    Duffield–Lund–Thorup): token count as weight, priority = w/u with
    u derived from md5(doc_id) — every arithmetic step IEEE
    correctly-rounded, so Spark and DuckDB select the bit-identical
    top-100 with no RNG state (stable under retries). est_weight =
    max(w, τ) is the Horvitz–Thompson weight: subset sums over the
    sample estimate population sums unbiasedly. Plans as
    TakeOrderedAndProject — per-partition top-k, single k-row reduce,
    NO global sort. See operators/curate_ext.py:priority_sample."""
    from weather4cast_bigdata_spark.operators import curate_ext

    docs = _t(spark, sf_dir, "documents")
    return curate_ext.priority_sample(
        docs, k=100, weight=F.size(text.tokens(F.col("text")))
    )


@qdef(
    "join_range_binned",
    )
def q_join_range_binned(spark, sf_dir):
    """Interval (range) join Spark lacks natively: events against a
    spine of 200 overlapping 150-min maintenance windows. A raw
    ``start <= ts < end`` join plans as BroadcastNestedLoopJoin
    (O(n·m) — the canonical scale-killer); ``range_join_binned`` bins
    both sides to 2-h buckets and recovers a shuffled EQUI join whose
    cost tracks matches, then refines with the exact predicate. The
    oracle runs the raw inequality join — proving the binned rewrite
    is result-identical."""
    ev = _t(spark, sf_dir, "events")
    d0 = ev.agg(F.date_trunc("day", F.min("ts")).alias("d0"))
    iv = (
        d0.select(F.explode(F.sequence(F.lit(0), F.lit(199))).alias("interval_id"), "d0")
        .select(
            F.col("interval_id").cast("bigint").alias("interval_id"),
            F.timestamp_seconds(
                F.unix_timestamp("d0") + F.col("interval_id") * 12000
            ).alias("s"),
            F.timestamp_seconds(
                F.unix_timestamp("d0") + F.col("interval_id") * 12000 + 9000
            ).alias("e"),
        )
    )
    matched = joins.range_join_binned(
        ev, iv, ts_col="ts", start_col="s", end_col="e", bin_seconds=7200
    )
    return matched.groupBy("interval_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        r6(F.sum("value")).alias("sum_value"),
    )


@qdef(
    "text_tfidf_topk",
    )
def q_text_tfidf_topk(spark, sf_dir):
    """Per-document top-3 TF-IDF terms — keyword extraction over the
    corpus. One token explode, doc-keyed aggregation reused by the
    length window and the rank window, vocabulary-sized df side on the
    term key. Ranking on the rounded score with term tie-break keeps
    the kept set bit-identical cross-engine."""
    docs = _t(spark, sf_dir, "documents")
    out = text.tfidf_topk(docs, id_col="doc_id", text_col="text", k=3)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@qdef(
    "sink_compacted",
    )
def q_sink_compacted(spark, sf_dir):
    """Lake-layout maintenance: compact lineitem into 8 range-clustered
    parquet files (repartitionByRange on l_orderkey — the 1-D analog
    of Z-ordering — + in-file sort for tight row-group min/max stats +
    maxRecordsPerFile size cap), then prove the rewritten lake is
    content-identical to the source by reading it back against the
    oracle. File-count bounds are asserted inline: the range
    partitioning fixes the floor, the record cap bounds rotation."""

    from weather4cast_bigdata_spark.sources import compact

    li = _t(spark, sf_dir, "lineitem")
    out = scratch_dir("w4c_compact")
    compact.write_compacted(
        li, out, cluster_by=["l_orderkey"], n_files=8, max_records_per_file=50_000
    )
    n_files = compact.parquet_file_count(out)
    # Bound derived from the ACTUAL row count, not a fixed constant:
    # 8 range partitions, each rotating every 50k records, plus range
    # skew slack. (The old hard-coded 8..24 bound encoded the sf0.1
    # volume and fired as a false alarm on the sf1 sweep — the
    # operator itself was honoring the cap exactly.)
    n_rows = li.count()
    ceil_files = 8 * (max(n_rows // 8, 1) + 50_000 - 1) // 50_000 + 8
    assert 8 <= n_files <= max(ceil_files, 24), (
        f"compaction produced {n_files} files for {n_rows} rows — expected "
        f"8 range partitions rotating every 50k records (<= {ceil_files})"
    )
    return compact.read_compacted(spark, out)


@qdef(
    "project_unpivot_long",
    )
def q_project_unpivot_long(spark, sf_dir):
    """Wide→long layout conversion (melt) — the inverse of the
    multichannel pivot and the reason the engine can hold both raster
    layouts (SURVEY §1.4): native ``unpivot``, a zero-shuffle narrow
    expand that stays in whole-stage codegen."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount"
    ).unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "value",
    )


@qdef(
    "project_pivot_wide",
    )
def q_project_pivot_wide(spark, sf_dir):
    """Long→wide pivot (the inverse of project_unpivot_long): daily
    per-event-type value totals as columns. The pivot value list is
    EXPLICIT — without it Spark runs a separate distinct scan over
    the pivot column before planning, a full extra pass over 100 TB;
    with it the pivot is one groupBy with conditional aggregates
    (exactly the FILTER form the oracle runs), map-side combined,
    single shuffle on the day key."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .pivot("event_type", types)
        .agg(F.sum("value"))
    )
    return out.select(
        "day",
        *[r6(F.coalesce(F.col(t), F.lit(0.0))).alias(f"{t}_sum") for t in types],
    )


@qdef(
    "sink_merge_upsert",
    )
def q_sink_merge_upsert(spark, sf_dir):
    """CDC apply / MERGE INTO analog: a deterministic change batch
    (deletes, two conflicting sequenced updates where the latest wins,
    a same-seq upsert-vs-delete conflict where delete wins, and
    inserts under fresh keys) applied to the orders base table. One
    change-batch window + ONE anti join of the base — the base never
    shuffles twice; the oracle replays the merge in pure SQL."""
    from weather4cast_bigdata_spark.operators import cdc

    o = _t(spark, sf_dir, "orders")
    m = F.col("o_orderkey") % 10

    def chg(cond, op, seq, price=None, key_shift=0):
        d = o.where(cond)
        if key_shift:
            d = d.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(key_shift))
        if price is not None:
            d = d.withColumn("o_totalprice", price)
        return d.withColumn("op", F.lit(op)).withColumn("seq", F.lit(seq))

    changes = (
        chg(m == 0, cdc.DELETE, 1)
        .unionByName(chg(m == 1, cdc.UPSERT, 1, price=F.col("o_totalprice") * 1.05))
        .unionByName(chg(m == 1, cdc.UPSERT, 2, price=F.col("o_totalprice") * 1.2))
        .unionByName(chg(m == 2, cdc.UPSERT, 3, price=F.col("o_totalprice") * 1.3))
        .unionByName(chg(m == 2, cdc.DELETE, 3))
        .unionByName(
            chg(m == 3, cdc.UPSERT, 1, price=F.col("o_totalprice") + 1000, key_shift=10_000_000)
        )
    )
    return cdc.apply_changes(o, changes, keys=["o_orderkey"], seq_col="seq")


@qdef(
    "audit_constraints",
    )
def q_audit_constraints(spark, sf_dir):
    """Declarative data-quality audit (Deequ-style): four named
    row-level constraints — positivity, numeric range, categorical
    domain, presence — counted in ONE scan with map-side-combined
    counters (an N-rule audit must never cost N scans), then
    unpivoted to the long (rule, n_violations, n_rows) dashboard
    form. NULL predicates count as violations: an unverifiable row is
    not a verified row."""
    from weather4cast_bigdata_spark.operators import quality

    li = _t(spark, sf_dir, "lineitem")
    rules = {
        "qty_positive": F.col("l_quantity") > 0,
        "discount_unit_range": (F.col("l_discount") >= 0) & (F.col("l_discount") <= 0.05),
        "returnflag_domain": F.col("l_returnflag").isin("A", "N", "R"),
        "shipdate_present": F.col("l_shipdate").isNotNull(),
    }
    return quality.constraint_audit(li, rules)


@qdef(
    "agg_histogram",
    )
def q_agg_histogram(spark, sf_dir):
    """Numeric profiling: fixed-width 10-bin histogram of
    l_extendedprice over its [min, max] span — a 1-row min/max
    broadcast back into a map-side-combined bin count (the two-scan
    floor for data-dependent binning; closed top edge). Bin edges are
    pure IEEE arithmetic on raw parquet doubles, identical in both
    engines with no rounding needed."""
    from weather4cast_bigdata_spark.operators import quality

    li = _t(spark, sf_dir, "lineitem")
    return quality.numeric_histogram(li, "l_extendedprice", n_bins=10)


# =====================================================================
# Wave-3 curation extensions: decontamination, PII redaction,
# repetition scoring, mixture sampling, sequence packing, EWMA,
# winsorized stats (operators/curate_ext.py, functions/text.py,
# operators/windows.py, operators/aggregates.py)
# =====================================================================


@qdef(
    "text_decontaminate",
    )
def q_text_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing ≥2
    distinct 3-gram shingles with the held-out eval suite (source
    'src0' plays the benchmark). Eval shingles broadcast — the 100 TB
    training side never shuffles for the probe."""
    from weather4cast_bigdata_spark.operators import curate_ext

    docs = _t(spark, sf_dir, "documents")
    return curate_ext.decontaminate(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
        min_overlap=2,
    )


@qdef(
    "text_decontaminate_bloom",
    )
def q_text_decontaminate_bloom(spark, sf_dir):
    """Bloom-filter decontamination (m=2^18 bits, k=3 md5-slice
    hashes): the eval side folds to its distinct set-bit positions —
    broadcast bounded by m no matter how large the eval suite — and
    training shingles probe via broadcast-hash join on the 8-byte
    position; a doc is flagged at ≥2 shingles whose k positions are
    all set. One-sided error (false positives only — the safe
    direction). The oracle reproduces the filter bit-exactly, FPs
    included. See operators/curate_ext.py:decontaminate_bloom."""
    from weather4cast_bigdata_spark.operators import curate_ext

    docs = _t(spark, sf_dir, "documents")
    return curate_ext.decontaminate_bloom(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
        min_overlap=2,
    )


@qdef(
    "text_pii_redact",
    )
def q_text_pii_redact(spark, sf_dir):
    """PII redaction: emails / phone-shaped numbers / IPv4 literals →
    typed placeholders. The fixture text is PII-free word soup, so the
    query first synthesizes a deterministic PII suffix per doc (same
    expression in both engines), then scrubs it — exercising all three
    patterns on every row. Pure chained regexp projection."""
    docs = _t(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or 555-123-4567 at 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    return docs.select("doc_id", text.pii_redact(raw).alias("redacted"))


@qdef(
    "text_repetition_score",
    )
def q_text_repetition_score(spark, sf_dir):
    """Gopher-style repetition signals: most-frequent-token fraction
    and duplicate-token fraction per document — one explode, one
    shuffle (the second groupBy rides the first's key prefix)."""
    from weather4cast_bigdata_spark.operators import curate_ext

    return curate_ext.repetition_features(_t(spark, sf_dir, "documents"))


@qdef(
    "sample_mixture_weighted",
    )
def q_sample_mixture_weighted(spark, sf_dir):
    """Deterministic data-mixture sampling: per-source keep rates via
    md5-bucket thresholding (reproducible under retries, unlike
    rand()), with Horvitz-Thompson inverse-rate weights."""
    from weather4cast_bigdata_spark.operators import curate_ext

    docs = _t(spark, sf_dir, "documents")
    kept = curate_ext.mixture_sample(
        docs, {"src0": 1.0, "src1": 0.5, "src2": 0.25}, default_rate=0.1
    )
    return kept.select("doc_id", "source", "weight")


@qdef(
    "pack_chunked",
    )
def q_pack_chunked(spark, sf_dir):
    """Concat-and-chunk sequence packing into capacity-128 training
    sequences via the distributed two-pass prefix sum (per-bucket
    cumsum + tiny bucket-offset broadcast) — the oracle's single
    global window is exactly the shape the operator refuses to run."""
    from weather4cast_bigdata_spark.operators import curate_ext

    return curate_ext.pack_chunked(_t(spark, sf_dir, "documents"), capacity=128)


@qdef("window_ewma", )
def q_window_ewma(spark, sf_dir):
    """Bounded-lookback EWMA (α=0.5, 8 terms) of event values per
    user — the recursive form is a sequential dead-end; the truncated
    lag-chain is one shuffle and fully codegen'd."""
    from weather4cast_bigdata_spark.operators import windows as W

    ev = _t(spark, sf_dir, "events")
    return W.ewma(
        ev, ["user_id"], "ts", "value", alpha=0.5, lookback=8,
        order_tiebreak=["event_id"],
    ).select("event_id", "user_id", "ts", "ewma")


@qdef("graph_pagerank")
def q_graph_pagerank(spark, sf_dir):
    """PageRank over the user interaction-follows graph (edge u→v
    when v's event directly follows u's within an event_type, by
    event time): 8 damped power-iteration rounds with uniform
    dangling-mass redistribution — the second iterative pattern
    beside connected components (localCheckpoint per round, one
    int-keyed join + one groupBy-sum per round, one scalar to the
    driver). Rows-only: a fixed-point iteration is not a SQL
    expression; invariants (mass conservation, symmetry, dominance)
    are pinned in tests/test_graph.py."""
    from pyspark.sql import Window

    from weather4cast_bigdata_spark.operators.graph import pagerank

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    edges = (
        ev.select("event_type", "ts", "event_id", "user_id")
        .withColumn("next_user", F.lead("user_id").over(w))
        .where(F.col("next_user").isNotNull() & (F.col("next_user") != F.col("user_id")))
        .select(F.col("user_id").alias("src"), F.col("next_user").alias("dst"))
    )
    return pagerank(edges, iters=8).withColumnRenamed("id", "user_id")


@qdef(
    "flagship_pricing_summary",
    )
def q_flagship_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary: the canonical scan-heavy
    aggregate — a single pushed-filter parquet scan (only 7 of the
    lineitem columns read), all eight aggregates partial-computed
    map-side, one exchange carrying ≤ |groups|×partitions rows. The
    pure-throughput complement to the join-shaped Q3 flagship: at
    100 TB this query is bounded by scan bandwidth, which is exactly
    what columnar pruning + predicate pushdown + whole-stage codegen
    maximize.

    Numeric policy: the money aggregates SUM over DECIMAL, not
    DOUBLE.  Double addition is not associative, so at large SF the
    partial-aggregation tree's summation order makes the result
    partitioning-dependent (and diverge from any other engine's) —
    the strict sf0.1 sweep caught exactly that.  The money columns
    are exact 2-decimal values, so the DECIMAL cast is lossless, the
    sum is exact integer arithmetic at any scale and any partition
    count, and the final CAST-to-double is one deterministic
    rounding.  Averages divide the exact decimal sum by the count in
    double — again one deterministic rounding per group."""
    li = _t(spark, sf_dir, "lineitem")
    qty_d = F.col("l_quantity").cast("decimal(12,2)")
    price_d = F.col("l_extendedprice").cast("decimal(12,2)")
    disc_d = F.col("l_discount").cast("decimal(3,2)")
    tax_d = F.col("l_tax").cast("decimal(3,2)")
    disc_price_d = price_d * (F.lit(1) - disc_d)
    charge_d = disc_price_d * (F.lit(1) + tax_d)
    n = F.count(F.lit(1))
    # NO r6 here: the decimal sums are exact and their cast to double
    # is one correctly-rounded conversion — already bit-identical
    # across engines and partitionings. round(x, 6) would BREAK that
    # above ~2^53/1e6 (~9e9): both engines rescale by 1e6 into the
    # integer-precision cliff and their last-ulp behavior diverges
    # (caught by the sf1 sweep at sum_charge ~2.8e10). Same for the
    # averages: exact-double / exact-int is one IEEE rounding.
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_d).cast("double").alias("sum_qty"),
            F.sum(price_d).cast("double").alias("sum_base_price"),
            F.sum(disc_price_d).cast("double").alias("sum_disc_price"),
            F.sum(charge_d).cast("double").alias("sum_charge"),
            (F.sum(qty_d).cast("double") / n).alias("avg_qty"),
            (F.sum(price_d).cast("double") / n).alias("avg_price"),
            (F.sum(disc_d).cast("double") / n).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@qdef(
    "agg_moments",
    )
def q_agg_moments(spark, sf_dir):
    """Single-pass higher-moment statistics per group (variance,
    skewness, excess kurtosis) from raw power sums — the algebraic
    expansion E[(x-μ)^k] that keeps every aggregate
    partial-computable (map-side combine; one exchange of 4 doubles
    per group per partition). Built-ins are deliberately avoided:
    Spark's skewness/kurtosis and DuckDB's use different bias
    corrections, so the engine computes the population moments
    EXPLICITLY and both engines evaluate the identical formula —
    numeric policy over convenience."""
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    v = F.col("value")
    p = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.sum(v * v * v).alias("s3"),
        F.sum(v * v * v * v).alias("s4"),
    )
    m = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - m * m
    m3 = F.col("s3") / F.col("n") - 3 * m * F.col("s2") / F.col("n") + 2 * m * m * m
    m4 = (
        F.col("s4") / F.col("n")
        - 4 * m * F.col("s3") / F.col("n")
        + 6 * m * m * F.col("s2") / F.col("n")
        - 3 * m * m * m * m
    )
    return p.select(
        "event_type",
        "n",
        r6(m).alias("mean"),
        r6(m2).alias("variance"),
        r6(m3 / F.pow(m2, 1.5)).alias("skewness"),
        r6(m4 / F.pow(m2, 2) - 3).alias("excess_kurtosis"),
    )


@qdef(
    "dim_scd2_build",
    )
def q_dim_scd2_build(spark, sf_dir):
    """Slowly-changing-dimension type-2 history build from an event
    log: per customer, collapse the order-status sequence into runs
    (lag-compare → change flag → running sum), emit one versioned
    row per run with [valid_from, valid_to) validity and a current
    flag — the warehouse pattern that turns a change stream into a
    point-in-time-joinable dimension (the batch complement of
    sink_merge_upsert's CDC apply). One shuffle on the key; every
    pass is an ordered window over the same partitioning, so the
    sort is reused across the three window steps."""
    from pyspark.sql import Window

    od = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    h = od.select(
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey",
        F.lag("o_orderstatus").over(w).alias("prev_status"),
    )
    runs = h.select(
        "o_custkey", "o_orderstatus", "o_orderdate",
        F.sum(
            F.when(
                F.col("prev_status").isNull()
                | (F.col("prev_status") != F.col("o_orderstatus")),
                1,
            ).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("run_id"),
    )
    spans = runs.groupBy(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        "run_id",
    ).agg(F.min("o_orderdate").alias("valid_from"))
    w2 = Window.partitionBy("custkey").orderBy("run_id")
    nxt = F.lead("valid_from").over(w2)
    return spans.select(
        "custkey", "status", "valid_from",
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@qdef(
    "join_point_in_time",
    )
def q_join_point_in_time(spark, sf_dir):
    """Point-in-time (temporal) dimension join: each order fact picks
    the SCD2 dimension version in effect on its date — the lookup
    every feature-store / ML-training join must get right to avoid
    label leakage. Same-day changes collapse to the end-of-day
    version (latest run wins, deterministic). Implemented as the
    union + ordered-window as-of scan (one key shuffle, linear per
    key) — NEVER the valid_from <= ts range join, which explodes per
    key before filtering; the oracle runs exactly that naive range
    join, proving the as-of rewrite result-identical."""
    from pyspark.sql import Window

    od = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    h = od.select(
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey",
        F.lag("o_orderstatus").over(w).alias("prev_status"),
    )
    runs = h.select(
        "o_custkey", "o_orderstatus", "o_orderdate",
        F.sum(
            F.when(
                F.col("prev_status").isNull()
                | (F.col("prev_status") != F.col("o_orderstatus")),
                1,
            ).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("run_id"),
    )
    spans = runs.groupBy(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        "run_id",
    ).agg(F.min("o_orderdate").alias("valid_from"))
    w_eod = Window.partitionBy("custkey", "valid_from").orderBy(
        F.col("run_id").desc()
    )
    eod = (
        spans.withColumn("_rn", F.row_number().over(w_eod))
        .where(F.col("_rn") == 1)
        .select("custkey", "status", F.col("valid_from").alias("ts"))
    )
    facts = od.select(
        "o_orderkey",
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("ts"),
        "o_orderstatus",
    )
    return windows.join_asof(
        facts, eod, keys=["custkey"], ts_col="ts", right_val_cols=["status"]
    ).select(
        "o_orderkey", "custkey", "ts", "o_orderstatus",
        F.col("status_asof"),
    )


@qdef(
    "sample_exact_k_per_group",
    )
def q_sample_exact_k_per_group(spark, sf_dir):
    """Exact-k uniform sample per group: rank each doc inside its
    source by a deterministic md5 hash of its id and keep the first
    20 — the fixed-budget panel draw (eval panels, human-annotation
    batches, per-domain probes) that rate-based sampling
    (sample_mixture_weighted) cannot provide. Hash-ordering makes
    the draw uniform-ish yet fully reproducible across engines,
    cluster sizes, and retries — no RNG state anywhere. One shuffle
    on the group key; the per-group sort is the window scan."""
    docs = _t(spark, sf_dir, "documents")
    h = text.md5_hash32(F.col("doc_id").cast("string"))
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(h, F.col("doc_id"))
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("sample_rank"))
        .where(F.col("sample_rank") <= 20)
    )


@qdef(
    "text_pmi_collocations",
    )
def q_text_pmi_collocations(spark, sf_dir):
    """Pointwise-mutual-information collocation discovery: the top-50
    token bigrams whose joint probability most exceeds independence
    (min pair count 25 to kill low-frequency noise) — the classic
    phrase/multi-word-expression miner (word2vec's phrase pass,
    NLTK collocations). Two map-side-combined counts (unigrams,
    adjacent bigrams via the zip_with shingle form — no positional
    self-join), two broadcast total normalizers, two broadcastable
    joins onto the unigram table, TakeOrderedAndProject for the
    top-k. At 100 TB the unigram side is the skew carrier and
    everything stays partial-aggregable."""
    docs = _t(spark, sf_dir, "documents")
    toks = text.tokens(F.lower(F.col("text")))
    uni = (
        docs.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    un = uni.agg(F.sum("c").alias("n_uni"))
    big = (
        docs.select(F.explode(text.word_shingles(toks, 2)).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .where(F.col("pair_count") >= 25)
        .select(
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("t1"),
            F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("t2"),
            "pair_count",
        )
    )
    bn = (
        docs.select(
            F.greatest(F.size(toks) - 1, F.lit(0)).alias("nb")
        ).agg(F.sum("nb").alias("n_big"))
    )
    u1 = uni.select(F.col("tok").alias("t1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tok").alias("t2"), F.col("c").alias("c2"))
    pmi = (
        big.crossJoin(F.broadcast(bn))
        .crossJoin(F.broadcast(un))
        .join(F.broadcast(u1), "t1")
        .join(F.broadcast(u2), "t2")
        .select(
            "t1", "t2", "pair_count",
            r6(
                F.log(
                    (F.col("pair_count") / F.col("n_big"))
                    / ((F.col("c1") / F.col("n_uni")) * (F.col("c2") / F.col("n_uni")))
                )
            ).alias("pmi"),
        )
    )
    return pmi.orderBy(F.col("pmi").desc(), "t1", "t2").limit(50)


@qdef("quality_model_filter")
def q_quality_model_filter(spark, sf_dir):
    """Model-based quality gate: a pyspark.ml logistic-regression
    classifier trained distributed (one treeAggregate per L-BFGS
    iteration, no per-row Python) on cheap text features, scoring
    every document with a keep/drop probability — the
    classifier-filter stage of production curation stacks. Rows-only:
    an L-BFGS fixed-iteration fit is not a SQL expression; the
    synthetic-label construction, score determinism, and separation
    property are pinned in tests/test_curate_ext.py."""
    from weather4cast_bigdata_spark.operators import quality

    docs = _t(spark, sf_dir, "documents")
    return quality.model_quality_scores(docs)


@qdef(
    "graph_triangles",
    )
def q_graph_triangles(spark, sf_dir):
    """Global triangle census of the near-dup graph (Jaccard ≥ 0.5
    edges): edge/wedge/triangle counts + clustering coefficient —
    clone clusters are cliques, so the coefficient measures how much
    dup mass sits in tight groups. Degree-oriented enumeration (the
    distributed-triangle-count skew defense: every wedge pivots at
    its smallest-degree apex, worst task O(m) not O(deg²)); the
    oracle counts the same triangles with the naive 3-way canonical
    self-join, proving the oriented rewrite is count-identical."""
    from weather4cast_bigdata_spark.operators.graph import triangle_stats

    docs = _t(spark, sf_dir, "documents")
    edges = dedup.ngram_jaccard_pairs_docs(docs, threshold=0.5)
    return triangle_stats(edges)


@qdef(
    "flagship_star_join",
    )
def q_flagship_star_join(spark, sf_dir):
    """The classic OLAP star-join shape (TPC-H Q3): selective dim
    filter (customer segment) → fact join chain → revenue agg →
    top-10. The declarative form lets Catalyst broadcast the filtered
    customer side, push both date predicates into the parquet scans,
    and plan the LIMIT as TakeOrderedAndProject (per-partition top-k
    before a single-reducer merge — never a full sort). The one
    required shuffle is the (orderkey, ...) aggregation.  Revenue
    SUMs over DECIMAL (lossless 2-decimal money) so the top-10
    ordering can never flip on a last-bit double difference between
    engines or partitionings — same numeric policy as
    flagship_pricing_summary."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(
            r6(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(3,2)"))
                ).cast("double")
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@qdef(
    "agg_mode_deterministic",
    )
def q_agg_mode_deterministic(spark, sf_dir):
    """Statistical mode per group with a DETERMINISTIC tie-break
    (max count, then max value) — engine-native mode() leaves ties
    unspecified, which no cross-engine pipeline can tolerate.
    Implemented as max(struct(count, value)): two map-side-combined
    aggregations, no window, no sort."""
    li = _t(spark, sf_dir, "lineitem")
    c = li.groupBy(
        "l_returnflag", F.col("l_quantity").cast("bigint").alias("q")
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        c.groupBy("l_returnflag")
        .agg(F.max(F.struct("n", "q")).alias("_m"))
        .select(
            "l_returnflag",
            F.col("_m.q").alias("mode_qty"),
            F.col("_m.n").alias("mode_n"),
        )
    )


@qdef(
    "window_rank_stats",
    )
def q_window_rank_stats(spark, sf_dir):
    """The ranking-window family in one pass: rank, dense_rank,
    ntile(4), percent_rank per customer over order value — all four
    share ONE window spec, so Spark plans a single sort within a
    single shuffle on the partition key (order-value leaderboards /
    quartile bucketing)."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w) + F.lit(1e-9), 6).alias("prank"),
    )


@qdef(
    "agg_string_concat",
    )
def q_agg_string_concat(spark, sf_dir):
    """Ordered string aggregation (LISTAGG/string_agg): collect,
    sort, join — the ORDER BY inside the aggregate is what makes the
    result deterministic across engines and partitionings; an
    unordered listagg is nondeterministic under ANY parallel engine."""
    n = _t(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations"),
        F.count(F.lit(1)).alias("n"),
    )


@qdef(
    "join_semi_anti",
    )
def q_join_semi_anti(spark, sf_dir):
    """Explicit semi/anti join surface (SURVEY §2.3 notes them
    implicit in the validity filter): customers WITH orders
    (left_semi) unioned with customers WITHOUT (left_anti) — the two
    partitions are disjoint and exhaustive, re-expressed as one
    boolean column for the oracle. Semi/anti never duplicate or
    widen rows, which is exactly why they beat inner-join+distinct
    at scale."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    semi = c.join(o, on="c_custkey", how="left_semi").withColumn(
        "has_orders", F.lit(True)
    )
    anti = c.join(o, on="c_custkey", how="left_anti").withColumn(
        "has_orders", F.lit(False)
    )
    return semi.unionByName(anti)


@qdef(
    "window_range_trailing",
    )
def q_window_range_trailing(spark, sf_dir):
    """Time-RANGE trailing aggregate: each event's 1-hour look-back
    sum/count per user — a RANGE frame over event-time (how many
    rows fall in the hour varies per row), not a row-count frame;
    the irregular-cadence form row frames cannot express. One
    shuffle on the key; the frame scan is a single ordered pass with
    a sliding aggregate state."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    # RANGE frames need a numeric ordering key: order by epoch micros
    # (exact integers — identical frame membership in both engines)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        r6(F.sum("value").over(w)).alias("trailing_1h_sum"),
        F.count(F.lit(1)).over(w).alias("trailing_1h_n"),
    )


@qdef(
    "text_inverted_index",
    )
def q_text_inverted_index(spark, sf_dir):
    """Bounded inverted-index build (trigram shingle -> df, total tf,
    sorted postings) over the corpus — the classic retrieval/
    search-prep workload. Postings lists are materialized only for
    terms in a df band (5..50): the explicit skew cap that keeps a
    boilerplate shingle's corpus-sized postings list from ever being
    collected (see operators/curate_ext.inverted_index for the
    100 TB shape)."""
    from weather4cast_bigdata_spark.operators import curate_ext

    docs = _t(spark, sf_dir, "documents")
    idx = curate_ext.inverted_index(docs, min_df=5, max_df=50)
    # Postings compared as a comma-joined string (engine-neutral
    # list rendering); values are the sorted doc_id list either way.
    return idx.withColumn(
        "postings", F.array_join(F.col("postings").cast("array<string>"), ",")
    )


@qdef(
    "curation_report",
    )
def q_curation_report(spark, sf_dir):
    """Corpus-health capstone: one per-source dashboard composing the
    wave-3 signals — doc count, mean token length, mean
    most-frequent-token fraction (repetition), and benchmark
    contamination count (vs the src0 eval suite) — each an
    independently verified operator, here composed into a single
    plan and hash-checked as a whole."""
    from weather4cast_bigdata_spark.operators import curate_ext

    docs = _t(spark, sf_dir, "documents")
    rep = curate_ext.repetition_features(docs).select("doc_id", "top_token_frac")
    contam = (
        curate_ext.decontaminate(
            docs.where(F.col("source") != "src0"),
            docs.where(F.col("source") == "src0"),
            min_overlap=2,
        )
        .where(F.col("contaminated"))
        .join(docs.select("doc_id", "source"), on="doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        docs.join(rep, on="doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            r6(F.avg(text.token_count(F.col("text")))).alias("mean_tokens"),
            r6(F.avg("top_token_frac")).alias("mean_top_token_frac"),
        )
        .join(contam, on="source", how="left")
        .select(
            "source",
            "n_docs",
            "mean_tokens",
            "mean_top_token_frac",
            F.coalesce(F.col("n_contaminated"), F.lit(0)).alias("n_contaminated"),
        )
    )


@qdef(
    "solve_ridge_verified",
    )
def q_solve_ridge_verified(spark, sf_dir):
    """The ridge ensemble fit, HASH-VERIFIED end to end: a 2-predictor
    system derived from the events table (pure IEEE projections, so
    both engines aggregate identical doubles), one distributed Gram
    aggregation, numpy solve at the driver — checked against the SQL
    closed form (Cramer's rule on the 2×2 regularized normal
    equations). Upgrades the solver family from rows-only evidence:
    the fixture-based `solve_ridge`/`solve_ridge_sum1` demonstrate
    the k-model path; this one proves the arithmetic."""
    from weather4cast_bigdata_spark import solve
    from weather4cast_bigdata_spark.operators.aggregates import gram_matrix

    ev = _t(spark, sf_dir, "events")
    f = ev.select(
        F.col("value").alias("p0"),
        (F.col("value") * 0.5 + (F.col("event_id") % 7)).alias("p1"),
        (F.col("value") * 0.8 + (F.col("event_id") % 3)).alias("y"),
    )
    row = gram_matrix(f, ["p0", "p1"], "y").collect()[0]
    ata, aty = solve.gram_row_to_matrices(row, 2)
    w = solve.solve_ridge(ata, aty)
    return spark.createDataFrame(
        [(i, round(float(x) + 1e-9, 6)) for i, x in enumerate(w)],
        "model_id int, weight double",
    )


@qdef(
    "sample_topk_per_group",
    )
def q_sample_topk_per_group(spark, sf_dir):
    """Stratified best-of selection: the top-5 documents per source by
    quality score — the 'keep the best N per domain' curation step
    (a per-source window row_number over the rounded score, doc-id
    tie-break; one shuffle on source). The windowed form beats
    groupBy+collect_list+slice: nothing per-group materializes."""
    docs = _t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    q = F.round(text.quality_score(F.col("text")) + F.lit(1e-9), 6)
    w = Window.partitionBy("source").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        docs.select("doc_id", "source", q.alias("quality"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
    )


@qdef(
    "audit_profile",
    )
def q_audit_profile(spark, sf_dir):
    """Single-pass column profiler (Deequ/crawler shape): rows /
    nulls / exact distinct / min / max for two orders columns in ONE
    aggregation (the k count-distincts plan as one expand+aggregate —
    an N-column profile must never cost N scans), unpivoted to the
    long dashboard form."""
    from weather4cast_bigdata_spark.operators import quality

    return quality.profile_columns(
        _t(spark, sf_dir, "orders"), ["o_orderpriority", "o_totalprice"]
    )


@qdef(
    "agg_entropy",
    )
def q_agg_entropy(spark, sf_dir):
    """Exact Shannon entropy (nats) of the user-bucket distribution
    per event type — the concentration signal profilers pair with
    distinct counts (0 = constant, ln k = uniform). Two cascaded
    map-side-combined aggregations on one scan."""
    from weather4cast_bigdata_spark.operators import quality

    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.pmod(F.col("user_id"), F.lit(10)).alias("bucket")
    )
    return quality.entropy(ev, "event_type", "bucket")


@qdef(
    "text_chunk_overlap",
    )
def q_text_chunk_overlap(spark, sf_dir):
    """RAG/embedding prep: split each document into 64-token windows
    every 32 tokens (tail kept — every token lands in ≥1 chunk, with
    32 tokens of context carry-over). Pure narrow projection:
    per-row sequence of chunk starts, higher-order slice+join — no
    shuffle anywhere."""
    from weather4cast_bigdata_spark.operators import curate_ext

    return curate_ext.chunk_overlap(
        _t(spark, sf_dir, "documents"), chunk_tokens=64, stride=32
    )


@qdef(
    "text_bigram_logprob",
    )
def q_text_bigram_logprob(spark, sf_dir):
    """Bigram-LM fluency proxy: mean ln p(w2|w1) per doc under the
    corpus's own bigram counts — scores word ORDER, one step past the
    unigram frequency proxy. Map-side bigram formation, broadcast
    frequency dims, one per-doc aggregation."""
    return text.bigram_logprob(_t(spark, sf_dir, "documents"))


@qdef(
    "sink_zorder",
    )
def q_sink_zorder(spark, sf_dir):
    """Z-order lake compaction: rewrite lineitem clustered along the
    Morton curve of (l_partkey, l_suppkey) — per-file min/max stats
    tighten on BOTH keys so selective filters on either column prune
    files (asserted in tests/test_scale_infra.py) — then prove the
    rewritten lake content-identical by reading it back against the
    oracle."""

    from weather4cast_bigdata_spark.sources import compact

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    out = scratch_dir("w4c_zorder")
    compact.write_zordered(li, out, "l_partkey", "l_suppkey", n_files=8)
    return spark.read.parquet(out)


@qdef(
    "project_zorder_key",
    )
def q_project_zorder_key(spark, sf_dir):
    """Morton (Z-order) interleave of (l_partkey, l_suppkey) — the
    space-filling-curve clustering key for two-dimensional lake
    layout (sources/compact.write_zordered sorts files by it so
    row-group stats prune filters on EITHER column). Pure bit
    arithmetic, codegen'd, engine-reproducible."""
    from weather4cast_bigdata_spark.sources import compact

    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        compact.zorder_key(F.col("l_partkey"), F.col("l_suppkey")).alias("zval"),
    )


@qdef(
    "join_interval_overlap",
    )
def q_join_interval_overlap(spark, sf_dir):
    """Interval×interval overlap join (daily user-activity spans ×
    ±30-min windows around high-value errors) via the binned
    dedup-free equi rewrite — the raw inequality form the oracle runs
    plans as a nested loop; the first-shared-bin guard keeps each
    overlapping pair exactly once with no distinct() pass."""
    ev = _t(spark, sf_dir, "events")
    a = ev.groupBy(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.min("ts").alias("a_start"), F.max("ts").alias("a_end"))
    b = ev.where((F.col("event_type") == "error") & (F.col("value") > 150)).select(
        "event_id",
        (F.col("ts") - F.expr("INTERVAL 30 MINUTES")).alias("b_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("b_end"),
    )
    j = joins.interval_overlap_join(
        a, b, "a_start", "a_end", "b_start", "b_end", bin_seconds=3600
    )
    return j.select(
        "user_id",
        "day",
        "event_id",
        (
            F.unix_micros(F.least("a_end", "b_end").cast("timestamp"))
            - F.unix_micros(F.greatest("a_start", "b_start").cast("timestamp"))
        ).alias("overlap_us"),
    )


@qdef(
    "dedup_substring_spans",
    )
def q_dedup_substring_spans(spark, sf_dir):
    """Exact cross-document substring repetition (the hash-bucket
    screen of exact-substring dedup, Lee et al. 2021): fraction of
    each doc's 5-token windows whose exact content appears in ≥2
    distinct documents — all exchanges int-keyed."""
    return dedup.substring_dup_stats(_t(spark, sf_dir, "documents"), n=5)


@qdef(
    "agg_winsorize",
    )
def q_agg_winsorize(spark, sf_dir):
    """Outlier-robust per-group mean: clip to the group's exact
    [p05, p95] interpolated percentiles (bounds dim broadcast back),
    then average. At 100 TB the documented swap is approx_percentile."""
    return aggregates.winsorized_stats(
        _t(spark, sf_dir, "events"), "event_type", "value"
    )


# ---------------------------------------------------------------------
# Weather-lake ETL / inference / solver entries + fixture-backed
# extensions live in a sibling module (imported for its @qdef side
# effects; placed last so it can import helpers from this module).
# ---------------------------------------------------------------------
from weather4cast_bigdata_spark.plans import registry_weather  # noqa: E402,F401

# Hash-verified siblings of the rows-only families (round 3) — same
# side-effect import pattern.
from weather4cast_bigdata_spark.plans import registry_verified  # noqa: E402,F401

# Round-4 curation-quality battery (Gopher rules, repetition
# fractions, canonical-URL dedup) — same side-effect import pattern.
from weather4cast_bigdata_spark.plans import registry_quality  # noqa: E402,F401

# ---------------------------------------------------------------------
# Oracle-coverage gate. qdef falls back to ORACLES.get(name), so a
# misspelled/missing key in registry_oracles would silently downgrade
# a query to rows-only with every test still green — the same silent-
# coverage-loss failure mode the duplicate-name assert prevents.
# ROWS_ONLY is the exhaustive allowlist of queries that legitimately
# have no DuckDB-restatable oracle (RNG order, sketch internals,
# k-means/L-BFGS training, driver solves); each has a hash-verified
# sibling in registry_verified.py.
# ---------------------------------------------------------------------
ROWS_ONLY = frozenset(
    {
        "agg_approx_distinct",
        "dedup_semantic",
        "graph_pagerank",
        "quality_model_filter",
        "shuffle_seeded",
        "sim_ivf_topk",
        "solve_ridge",
        "solve_ridge_sum1",
    }
)

_missing_oracles = sorted(
    name
    for name, q in REGISTRY.items()
    if q.oracle is None and name not in ROWS_ONLY
)
assert not _missing_oracles, (
    "queries silently downgraded to rows-only (no ORACLES entry and "
    f"not in the ROWS_ONLY allowlist): {_missing_oracles}"
)
_stale_allowlist = sorted(
    name for name in ROWS_ONLY if REGISTRY[name].oracle is not None
)
assert not _stale_allowlist, (
    f"ROWS_ONLY entries that now carry an oracle: {_stale_allowlist}"
)
_orphan_oracles = sorted(set(ORACLES) - set(REGISTRY))
assert not _orphan_oracles, (
    f"ORACLES keys that match no registry query: {_orphan_oracles}"
)
